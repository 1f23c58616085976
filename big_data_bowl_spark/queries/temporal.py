"""Event-time windowing over the `events` table (ts: timestamp).

North-star extension (SURVEY.md §2.11): the reference has no temporal
operators, but the driver's events stream table makes tumbling /
sliding / session windows and JSON prop extraction first-class here.
Batch `F.window`/`F.session_window` is the primary surface (oracle-
checkable); `streaming/windows.py` runs the SAME aggregations as a
Structured Streaming query with a watermark (tested for batch parity
in tests/test_streaming.py).

Scale notes: event-time windows are hash-aggregations on (bucket,
keys) — partial map-side combine makes them linear-scan shaped; the
sliding window materializes exactly window/slide rows per event
(2 here), not a range join.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .base import dsum, dsum_sql, register, t

# DuckDB view ts is TIMESTAMP_NS; CAST truncates to micros — matching
# the loader's `ts div 1000` floor (sources/io.py).
_TS = "CAST(ts AS TIMESTAMP)"


@register(
    "t01_tumbling_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', {_TS}) AS window_start,
           time_bucket(INTERVAL '1 hour', {_TS}) + INTERVAL '1 hour'
             AS window_end,
           event_type, COUNT(*) AS n_events,
           {dsum_sql('value')} AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
    note="Tumbling 1-hour event-time window x event_type: one hash-agg "
    "on (bucket, type) with map-side partial aggregation — the "
    "streaming-ready aggregation shape (streaming/windows.py runs the "
    "same plan incrementally with a watermark)",
)
def t01_tumbling_window(spark: SparkSession, sf_dir: str):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "t02_sliding_window",
    oracle=f"""
    WITH buckets AS (
      SELECT time_bucket(INTERVAL '1 hour', {_TS}) AS window_start, value
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '1 hour', {_TS}, INTERVAL '30 minutes')
               AS window_start, value
      FROM events
    )
    SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
           COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
    FROM buckets GROUP BY 1, 2
    """,
    note="Sliding window (1 hour / 30 min): each event lands in exactly "
    "window/slide = 2 buckets — Spark expands then hash-aggregates; "
    "never a range join",
)
def t02_sliding_window(spark: SparkSession, sf_dir: str):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "t03_session_window",
    oracle=f"""
    WITH e AS (SELECT user_id, {_TS} AS ts FROM events),
         x AS (SELECT user_id, ts,
                      CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL '10 minutes'
                           THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (SELECT user_id, ts,
                      SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
               FROM x)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '10 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM y GROUP BY user_id, sid
    """,
    note="Session windows (10-min gap) per user — Spark's native "
    "session_window vs the gaps-and-islands SQL formulation; session "
    "end is exclusive (event at exactly last+gap starts a new session)",
)
def t03_session_window(spark: SparkSession, sf_dir: str):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "10 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "t04_interevent_gap",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(date_diff('microseconds',
                LAG({_TS}) OVER (PARTITION BY user_id
                                 ORDER BY {_TS}, event_id),
                {_TS}) AS BIGINT) AS gap_us
    FROM events
    """,
    note="lead/lag over event time: per-user inter-event gap in "
    "microseconds — one window shuffle on user_id, deterministic "
    "tie-break on event_id",
)
def t04_interevent_gap(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    # integral microsecond arithmetic — exact, no float involved
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(prev)
    return ev.select("event_id", "user_id", gap.alias("gap_us"))


@register(
    "t05_json_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
    note="JSON prop extraction (events.props) — get_json_object stays "
    "JVM-side; at scale prefer from_json with an explicit schema once "
    "per pipeline, not repeated path extraction",
)
def t05_json_props(spark: SparkSession, sf_dir: str):
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )


@register(
    "t06_asof_join",
    oracle="""
    WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                      value FROM events WHERE event_type = 'purchase'),
         r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                      MAX(value) AS prior_view_value
               FROM events WHERE event_type = 'view' GROUP BY 1, 2)
    SELECT l.event_id, l.user_id, l.ts, l.value,
           r.ts AS prior_view_ts, r.prior_view_value,
           epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    note="As-of join: attach the most recent prior 'view' to each "
    "'purchase' per user. Spark has no ASOF JOIN; the inequality-join "
    "spelling plans as a broadcast-nested-loop (O(n*m) — never at "
    "scale). Instead: union both sides tagged, ONE shuffle on "
    "user_id, sort by (ts, tag), last(ignorenulls) carries the "
    "latest right row forward — the distributed merge as-of, linear "
    "per partition. Right side pre-aggregated per (user_id, ts) so "
    "tie resolution is deterministic in both engines",
)
def t06_asof_join(spark: SparkSession, sf_dir: str):
    from ..operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("prior_view_value"))
    )
    res = asof_join(left, right, on="user_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_r"))
    return res.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("ts_r").alias("prior_view_ts"),
        "prior_view_value",
        gap.alias("gap_us"),
    )


# t07 runs the STREAMING twin of t01 (readStream -> watermark ->
# windowed agg -> availableNow drain) and must hash-match the same
# batch oracle — streaming is a first-class, correctness-gated
# surface here, not a demo.
from .base import REGISTRY as _REGISTRY  # noqa: E402


@register(
    "t07_streaming_tumbling",
    oracle=_REGISTRY["t01_tumbling_window"].oracle,
    note="Structured Streaming tumbling window (availableNow backfill "
    "over the events lake, watermark-bounded state, memory sink in "
    "complete mode) — identical expressions to batch t01 and checked "
    "against the SAME DuckDB oracle; swap the sink for Kafka/parquet "
    "and the trigger for processingTime and this is the production "
    "incremental pipeline",
)
def t07_streaming_tumbling(spark: SparkSession, sf_dir: str):
    from ..streaming.windows import (
        read_events_stream,
        run_to_memory,
        tumbling_counts,
    )

    stream = tumbling_counts(read_events_stream(spark, sf_dir))
    run_to_memory(
        stream, "t07_streaming_tumbling_sink", output_mode="complete"
    )
    return spark.table("t07_streaming_tumbling_sink")


@register(
    "t08_streaming_sessionization",
    oracle=f"""
    WITH e AS (SELECT user_id, {_TS} AS ts FROM events),
         x AS (SELECT user_id, ts,
                      CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL '10 minutes'
                           THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (SELECT user_id, ts,
                      SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
               FROM x),
         s AS (SELECT user_id, sid, MIN(ts) AS session_start,
                      MAX(ts) + INTERVAL '10 minutes' AS session_end,
                      COUNT(*) AS n_events
               FROM y GROUP BY user_id, sid)
    SELECT user_id, session_start, session_end, n_events FROM s
    QUALIFY sid < MAX(sid) OVER (PARTITION BY user_id)
    """,
    note="Custom stateful streaming operator "
    "(applyInPandasWithState sessionization, streaming/stateful.py) "
    "gated on a FULL value oracle: closed sessions must hash-match "
    "the batch gaps-and-islands SQL minus each user's still-open "
    "final session (which stays open in O(1) state). "
    "State: one tuple per key; emission on session close",
)
def t08_streaming_sessionization(spark: SparkSession, sf_dir: str):
    from ..streaming.stateful import sessionize
    from ..streaming.windows import read_events_stream, run_to_memory

    stream = read_events_stream(spark, sf_dir).select("user_id", "ts")
    run_to_memory(
        sessionize(stream),
        "t08_streaming_sessionization_sink",
        output_mode="append",
    )
    return spark.table("t08_streaming_sessionization_sink")


# ---------------------------------------------------------------------------
# T9: interval (range) join — events x time windows without a BNLJ
# ---------------------------------------------------------------------------

N_INTERVALS = 100
_IV_BASE = "2024-01-01 00:00:00"
_IV_SECONDS = 90 * 60  # 90-minute windows, every 7 hours


def _interval_table(spark: SparkSession):
    """The t09/t12 synthetic interval table, bucket-expanded for the
    range join: one row per (interval, covered hour bucket). Shared
    so a boundary fix (e.g. the `_IV_SECONDS - 1` inclusive endpoint)
    cannot be applied to the batch query but not its streaming twin
    (review r7 dedup).
    """
    base = F.to_timestamp(F.lit(_IV_BASE))
    start_s = F.unix_timestamp(base) + (F.col("id") * 7 + 3) * 3600
    return spark.range(N_INTERVALS).select(
        F.col("id").alias("interval_id"),
        F.timestamp_seconds(start_s).alias("start_ts"),
        F.timestamp_seconds(start_s + _IV_SECONDS).alias("end_ts"),
        F.explode(
            F.sequence(
                F.floor(start_s / 3600),
                F.floor((start_s + _IV_SECONDS - 1) / 3600),
            )
        ).alias("bucket"),
    )


@register(
    "t09_interval_join",
    oracle=f"""
    WITH iv AS (
      SELECT i.i AS interval_id,
             TIMESTAMP '{_IV_BASE}' + to_hours(CAST(i.i * 7 + 3 AS BIGINT))
               AS start_ts,
             TIMESTAMP '{_IV_BASE}' + to_hours(CAST(i.i * 7 + 3 AS BIGINT))
               + to_seconds({_IV_SECONDS}) AS end_ts
      FROM range({N_INTERVALS}) i(i))
    SELECT iv.interval_id, e.event_id, e.event_type
    FROM events e JOIN iv
      ON {_TS} >= iv.start_ts AND {_TS} < iv.end_ts
    """,
    note="Interval/range join: events matched to the time windows "
    "containing them. A raw `ts >= start AND ts < end` join has no "
    "equality key, so Spark plans a BroadcastNestedLoopJoin — "
    "O(events x intervals). Instead each interval EXPANDS into the "
    "1-hour buckets it overlaps (bounded fan-out: duration/bucket + 1 "
    "rows), the join runs on bucket EQUALITY (hash join, broadcast "
    "here since intervals are dim-sized; shuffle-hash at scale), and "
    "exact containment filters the bucket matches. The standard "
    "scale-out for range joins (cf. Databricks range-join bin "
    "optimization) in plain DataFrame ops.",
)
def t09_interval_join(spark: SparkSession, sf_dir: str):
    ev = t(spark, sf_dir, "events")
    iv = _interval_table(spark)
    bucketed = ev.withColumn(
        "bucket", F.floor(F.unix_timestamp(F.col("ts")) / 3600)
    )
    return (
        bucketed.join(F.broadcast(iv), "bucket")
        .filter(
            (F.col("ts") >= F.col("start_ts"))
            & (F.col("ts") < F.col("end_ts"))
        )
        .select("interval_id", "event_id", "event_type")
    )


@register(
    "t10_date_parts",
    oracle=f"""
    SELECT event_id,
           CAST(year({_TS}) AS INT) AS yr,
           CAST(month({_TS}) AS INT) AS mo,
           CAST(dayofweek({_TS}) AS INT) AS dow,
           CAST(date_trunc('day', {_TS}) AS DATE) AS event_date,
           CAST(hour({_TS}) AS INT) AS hr
    FROM events
    """,
    note="T10 calendar decomposition: year/month/dow/hour + date_trunc "
    "as narrow projections. dayofweek: DuckDB is 0=Sunday..6, Spark "
    "1=Sunday..7 — normalized to DuckDB's numbering (dayofweek - 1).",
)
def t10_date_parts(spark: SparkSession, sf_dir: str):
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("yr"),
        F.month("ts").alias("mo"),
        (F.dayofweek("ts") - 1).alias("dow"),
        F.date_trunc("day", F.col("ts")).cast("date").alias("event_date"),
        F.hour("ts").alias("hr"),
    )


@register(
    "t11_streaming_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    note="Streaming exact dedup (the streaming face of d01): "
    "watermarked dropDuplicates keeps ONE state row per key inside "
    "the 2h horizon — state is bounded no matter how long the stream "
    "runs. Only the KEYS are emitted because 'first arrival' under a "
    "backfill is processing-order-dependent; the key set itself is "
    "deterministic and oracle = DISTINCT. availableNow backfill over "
    "the events lake, append-mode memory sink.",
)
def t11_streaming_dedup(spark: SparkSession, sf_dir: str):
    from ..streaming.windows import (
        read_events_stream,
        run_to_memory,
        streaming_dedup,
    )

    stream = streaming_dedup(
        read_events_stream(spark, sf_dir), keys=["user_id", "event_type"]
    ).select("user_id", "event_type")
    run_to_memory(stream, "t11_streaming_dedup_sink", output_mode="append")
    return spark.table("t11_streaming_dedup_sink")


@register(
    "t12_streaming_interval_join",
    oracle=_REGISTRY["t09_interval_join"].oracle,
    note="Stream-static interval join: the t09 bucket-expansion range "
    "join with the events side as a STREAM (availableNow backfill) and "
    "the interval table broadcast as the static side. Stream-static "
    "inner joins need no watermark/state — each micro-batch joins "
    "against the static table independently — so this is the "
    "incremental form of enrich-by-time-window; checked against the "
    "identical batch oracle.",
)
def t12_streaming_interval_join(spark: SparkSession, sf_dir: str):
    from ..streaming.windows import read_events_stream, run_to_memory

    iv = _interval_table(spark)
    stream = (
        read_events_stream(spark, sf_dir)
        .withColumn("bucket", F.floor(F.unix_timestamp(F.col("ts")) / 3600))
        .join(F.broadcast(iv), "bucket")
        .filter(
            (F.col("ts") >= F.col("start_ts"))
            & (F.col("ts") < F.col("end_ts"))
        )
        .select("interval_id", "event_id", "event_type")
    )
    run_to_memory(
        stream, "t12_streaming_interval_join_sink", output_mode="append"
    )
    return spark.table("t12_streaming_interval_join_sink")


@register(
    "t13_asof_join_forward",
    oracle="""
    WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'purchase'),
         r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                      MAX(value) AS next_error_value
               FROM events WHERE event_type = 'error' GROUP BY 1, 2)
    SELECT l.event_id, l.user_id, l.ts,
           r.ts AS next_error_ts, r.next_error_value,
           epoch_us(r.ts) - epoch_us(l.ts) AS gap_us
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts <= r.ts
    """,
    note="Forward as-of join: attach the NEXT 'error' after each "
    "'purchase' per user (time-to-failure attribution). Same merge "
    "operator as t06 with the partition sort reversed "
    "(operators/asof.py direction='forward') — one shuffle, linear "
    "per partition; oracle = DuckDB ASOF with l.ts <= r.ts.",
)
def t13_asof_join_forward(spark: SparkSession, sf_dir: str):
    from ..operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("next_error_value"))
    )
    joined = asof_join(
        left,
        right,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        suffix="_x",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_x").alias("next_error_ts"),
        "next_error_value",
        (
            F.unix_micros(F.col("ts_x")) - F.unix_micros(F.col("ts"))
        ).alias("gap_us"),
    )


@register(
    "t14_time_weighted_avg",
    oracle=f"""
    WITH g AS (
      SELECT user_id, value,
             CAST(date_diff('microseconds', {_TS},
                  LEAD({_TS}) OVER (PARTITION BY user_id
                                    ORDER BY {_TS}, event_id)) AS BIGINT)
               AS dt_us
      FROM events)
    SELECT user_id,
           floor(CAST(SUM(CAST(value * dt_us AS DECIMAL(38,6))) AS DOUBLE)
                 / SUM(dt_us) * 1e9 + 0.5) / 1e9 AS tw_avg,
           CAST(SUM(dt_us) AS BIGINT) AS span_us
    FROM g WHERE dt_us IS NOT NULL
    GROUP BY user_id
    """,
    note="T14 time-weighted average per user: each reading weighted by "
    "its holding duration (gap to the next event) — the correct "
    "average for irregularly-sampled telemetry, where a plain mean "
    "overweights bursts. One window shuffle + one agg; the "
    "value*duration products are decimal-summed (exact 2-decimal "
    "value x integer micros), then one division rounded to 9 decimals "
    "(the decimal->double cast can differ in the last ulp).",
)
def t14_time_weighted_avg(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    g = ev.select("user_id", "value", dt.alias("dt_us")).where(
        F.col("dt_us").isNotNull()
    )
    from ..functions.rounding import rhu

    return g.groupBy("user_id").agg(
        rhu(
            F.sum((F.col("value") * F.col("dt_us")).cast("decimal(38,6)"))
            .cast("double")
            / F.sum("dt_us"),
            9,
        ).alias("tw_avg"),
        F.sum("dt_us").alias("span_us"),
    )


@register(
    "t15_funnel_analysis",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN {_TS} END) AS t_view
      FROM events GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, s1.t_view,
             MIN(CASE WHEN e.event_type = 'click'
                      AND {_TS.replace('ts', 'e.ts')} > s1.t_view
                      THEN {_TS.replace('ts', 'e.ts')} END) AS t_click
      FROM events e JOIN s1 USING (user_id)
      GROUP BY e.user_id, s1.t_view),
    s3 AS (
      SELECT e.user_id, s2.t_view, s2.t_click,
             MIN(CASE WHEN e.event_type = 'purchase'
                      AND {_TS.replace('ts', 'e.ts')} > s2.t_click
                      THEN {_TS.replace('ts', 'e.ts')} END) AS t_purchase
      FROM events e JOIN s2 USING (user_id)
      GROUP BY e.user_id, s2.t_view, s2.t_click)
    SELECT user_id, t_view, t_click, t_purchase,
           CASE WHEN t_view IS NULL THEN 0
                WHEN t_click IS NULL THEN 1
                WHEN t_purchase IS NULL THEN 2
                ELSE 3 END AS funnel_depth
    FROM s3
    """,
    note="T15 ordered funnel (view -> click -> purchase) per user: each "
    "stage's timestamp is the earliest qualifying event STRICTLY after "
    "the previous stage — the product-analytics primitive, implemented "
    "as the reusable operators/funnel.py ordered_funnel (ONE shuffle "
    "on user_id, chained Window passes sharing the exchange, same-key "
    "final aggregation with no second exchange). The oracle spells "
    "the same cascade as three grouped joins; both engines agree "
    "because SQL null semantics drop post-NULL stages identically. "
    "At scale: no self-join explosion — cost is O(steps x events) "
    "scan work, one row of state per user.",
)
def t15_funnel_analysis(spark: SparkSession, sf_dir: str):
    from ..operators.funnel import ordered_funnel

    ev = t(spark, sf_dir, "events")
    return ordered_funnel(ev, ["view", "click", "purchase"])


@register(
    "d07_cdc_compaction",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type, {_TS} AS ts, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY {_TS} DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, event_type)
               AS n_versions,
             MIN({_TS}) OVER (PARTITION BY user_id, event_type)
               AS first_seen
      FROM events)
    SELECT user_id, event_type, value AS latest_value,
           ts AS last_seen, first_seen, n_versions
    FROM ranked WHERE rn = 1
    """,
    note="D7 changelog compaction (CDC upsert / SCD type 1): the "
    "events table read as a change stream keyed by (user_id, "
    "event_type) — keep each key's NEWEST row plus version lineage "
    "(first_seen, n_versions). ONE shuffle on the key; both window "
    "functions and the rank share a single Window sort, and the "
    "rank filter stops at one row per key. The keep-one-LATEST twin "
    "of d01's keep-one-MIN exact dedup — the compaction every "
    "incremental training-data ingest runs before a snapshot export. "
    "Ties broken by event_id for cross-engine determinism.",
)
def d07_cdc_compaction(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value", "event_id"
    )
    key = Window.partitionBy("user_id", "event_type")
    ranked = ev.select(
        "user_id",
        "event_type",
        "ts",
        "value",
        F.row_number()
        .over(key.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(key).alias("n_versions"),
        F.min("ts").over(key).alias("first_seen"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "user_id",
        "event_type",
        F.col("value").alias("latest_value"),
        F.col("ts").alias("last_seen"),
        "first_seen",
        "n_versions",
    )


@register(
    "t16_streaming_cdc_compaction",
    # literally d07's oracle (the note's 'the SAME oracle SQL gates
    # both' made structural by the t07/t12/t18 sharing pattern —
    # review r7: an inline copy desynchronizes on the next oracle fix)
    oracle=_REGISTRY["d07_cdc_compaction"].oracle,
    note="T16 streaming changelog compaction: the streaming twin of "
    "batch d07 via applyInPandasWithState "
    "(streaming/stateful.py latest_per_key) — per (user_id, "
    "event_type) key one fixed-width state tuple folds the newest "
    "row + version lineage across micro-batches; each batch emits "
    "the key's current compacted row (a downstream upsert sink "
    "applies the latest emission idempotently). The registered query "
    "applies that upsert itself — keep each key's max-n_versions "
    "emission — so the result equals batch d07 however many "
    "micro-batches the source splits into (n_versions strictly "
    "increases per key across emissions); the SAME oracle SQL gates "
    "both, and pytest additionally proves cross-batch state folding "
    "on a 2-file split.",
)
def t16_streaming_cdc_compaction(spark: SparkSession, sf_dir: str):
    from ..streaming.stateful import latest_per_key
    from ..streaming.windows import read_events_stream, run_to_memory

    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "event_type", "ts", "value", "event_id"
    )
    run_to_memory(
        latest_per_key(stream),
        "t16_streaming_cdc_sink",
        output_mode="append",
    )
    sink = spark.table("t16_streaming_cdc_sink")
    # the upsert step: one row per key, the latest (max n_versions)
    # emission wins — idempotent over any micro-batch split
    latest = sink.groupBy("user_id", "event_type").agg(
        F.max(
            F.struct("n_versions", "last_seen", "latest_value", "first_seen")
        ).alias("s")
    )
    return latest.select(
        "user_id",
        "event_type",
        F.col("s.latest_value").alias("latest_value"),
        F.col("s.last_seen").alias("last_seen"),
        F.col("s.first_seen").alias("first_seen"),
        F.col("s.n_versions").alias("n_versions"),
    )


EWMA_ALPHA = 0.3


@register(
    "t17_ewma_smoothing",
    oracle=f"""
    WITH folded AS (
      SELECT user_id, COUNT(*) AS n_events,
             list_reduce(list(value ORDER BY {_TS}, event_id),
                         (acc, v) -> {EWMA_ALPHA} * v
                                     + {1.0 - EWMA_ALPHA} * acc)
               AS ewma_raw
      FROM events GROUP BY user_id)
    SELECT user_id, n_events,
           floor(ewma_raw * 1e9 + 0.5) / 1e9 AS ewma_value
    FROM folded
    """,
    note=f"T17 exponentially-weighted moving average (alpha = "
    f"{EWMA_ALPHA}) of each user's telemetry, seeded with the first "
    "reading — the order-SENSITIVE sequential fold that windowed "
    "averages (t14's duration weighting, t01's bucketing) cannot "
    "express. One shuffle groups each user's readings; the fold runs "
    "element-by-element in (ts, event_id) order in BOTH engines "
    "(Spark aggregate() over the sorted struct array == DuckDB "
    "list_reduce over list(ORDER BY)), so every intermediate double "
    "is bit-identical and only the final value rounds. Like a13/a09, "
    "the collect_list form buffers one user's history per reducer — "
    "the documented bounded-group contract; an unbounded stream uses "
    "the t16-style stateful fold instead.",
)
def t17_ewma_smoothing(spark: SparkSession, sf_dir: str):
    from ..functions.rounding import rhu

    ev = t(spark, sf_dir, "events")
    xs = F.sort_array(
        F.collect_list(F.struct("ts", "event_id", "value"))
    )
    g = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), xs.alias("xs")
    )
    # seed with the first reading, fold the rest: exactly DuckDB's
    # list_reduce semantics (first element is the initial accumulator)
    fold = F.aggregate(
        F.slice(F.col("xs"), 2, F.size("xs") - 1),
        F.element_at(F.col("xs"), 1).getField("value"),
        lambda acc, x: EWMA_ALPHA * x.getField("value")
        + (1.0 - EWMA_ALPHA) * acc,
    )
    return g.select(
        "user_id", "n_events", rhu(fold).alias("ewma_value")
    )


@register(
    "d08_scd2_history",
    oracle=f"""
    SELECT user_id, event_type,
           ROW_NUMBER() OVER w AS version_num,
           value,
           {_TS} AS valid_from,
           LEAD({_TS}) OVER w AS valid_to,
           (LEAD(event_id) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id, event_type
                 ORDER BY {_TS}, event_id)
    """,
    note="D8 SCD type-2 history build: turn the events changelog into "
    "validity intervals — every version of a (user_id, event_type) "
    "key becomes a row with [valid_from, valid_to) where valid_to is "
    "the NEXT version's timestamp (NULL = still current). The "
    "warehouse twin of d07: d07 keeps only the newest row (SCD-1 "
    "overwrite), d08 keeps the full auditable history a "
    "point-in-time ('as of 2024-03-01') join consumes via t09-style "
    "interval matching. ONE shuffle on the key; row_number and lead "
    "share a single Window sort (ts, event_id — total order, so the "
    "intervals are deterministic under any partitioning). At 100 TB "
    "this is per-key-sized state in the sort, no buffering beyond "
    "the window frame; output cardinality == input (each change row "
    "maps to exactly one interval row).",
)
def d08_scd2_history(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value", "event_id"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    return ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("version_num"),
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("event_id").over(w).isNull().alias("is_current"),
    )


@register(
    "t18_streaming_sliding",
    oracle=_REGISTRY["t02_sliding_window"].oracle,
    note="Structured Streaming sliding window (1 hour / 30 min slide, "
    "availableNow backfill, watermark-bounded state, memory sink in "
    "complete mode) — identical expressions to batch t02 and checked "
    "against the SAME DuckDB oracle. Completes the streaming window "
    "family: tumbling (t07), sliding (t18), session (t08). Each "
    "event updates exactly window/slide = 2 window states — "
    "incremental cost is O(2) per event, never a range join — and "
    "the watermark evicts closed windows so state stays bounded on "
    "an unbounded feed.",
)
def t18_streaming_sliding(spark: SparkSession, sf_dir: str):
    from ..streaming.windows import (
        read_events_stream,
        run_to_memory,
        sliding_sums,
    )

    stream = sliding_sums(read_events_stream(spark, sf_dir))
    run_to_memory(
        stream, "t18_streaming_sliding_sink", output_mode="complete"
    )
    return spark.table("t18_streaming_sliding_sink")


@register(
    "t19_cohort_retention",
    oracle=f"""
    WITH e AS (SELECT user_id, CAST(date_trunc('week', {_TS}) AS DATE)
                 AS wk FROM events),
    first AS (SELECT user_id, MIN(wk) AS cohort_week
              FROM e GROUP BY user_id),
    cohorts AS (SELECT cohort_week, COUNT(*) AS cohort_size
                FROM first GROUP BY cohort_week),
    active AS (SELECT DISTINCT e.user_id, f.cohort_week, e.wk
               FROM e JOIN first f ON e.user_id = f.user_id),
    m AS (SELECT cohort_week,
                 CAST(date_diff('day', cohort_week, wk) // 7 AS INT)
                   AS week_offset,
                 COUNT(*) AS n_active
          FROM active GROUP BY 1, 2)
    SELECT m.cohort_week, m.week_offset, c.cohort_size, m.n_active,
           floor((CAST(m.n_active AS DOUBLE) / c.cohort_size)
                 * 1e9 + 0.5) / 1e9 AS retention
    FROM m JOIN cohorts c ON m.cohort_week = c.cohort_week
    """,
    note="T19 cohort retention matrix: users are cohorted by the "
    "Monday-truncated week of their FIRST event; each later week of "
    "activity increments that cohort's (week_offset) cell; retention "
    "= active users / cohort size — the standard product-analytics "
    "triangle every event warehouse serves. Plan: one agg keys "
    "first-seen per user, the activity set distincts on (user, "
    "week), and the attach join is user_id-to-user_id so both sides "
    "arrive co-partitioned from their own aggs (AQE elides the "
    "re-exchange); the final matrix agg is (weeks x offsets)-sized "
    "and the cohort-size attach joins a WEEKS-sized table — "
    "broadcast by construction at any corpus scale. week_offset is "
    "an exact multiple-of-7 day difference (both engines truncate "
    "weeks to Monday), so the integer division is engine-safe.",
)
def t19_cohort_retention(spark: SparkSession, sf_dir: str):
    from ..functions.rounding import rhu

    e = t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    )
    first = e.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    cohorts = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    active = e.join(first, "user_id").distinct()
    m = (
        active.select(
            "cohort_week",
            F.floor(F.datediff("wk", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return m.join(F.broadcast(cohorts), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "cohort_size",
        "n_active",
        rhu(
            F.col("n_active").cast("double") / F.col("cohort_size"), 9
        ).alias("retention"),
    )


@register(
    "t20_gapfill_resample",
    oracle=f"""
    WITH b AS (
      SELECT user_id, date_trunc('hour', {_TS}) AS hour,
             COUNT(*) AS n, {dsum_sql('value')} AS s
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM b),
    grid AS (
      SELECT u.user_id, g.hour
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (SELECT unnest(generate_series(h0, h1,
                    INTERVAL '1 hour')) AS hour FROM bounds) g),
    j AS (
      SELECT g.user_id, g.hour, COALESCE(b.n, 0) AS n_events,
             floor((b.s / b.n) * 1e9 + 0.5) / 1e9 AS obs_avg
      FROM grid g LEFT JOIN b USING (user_id, hour))
    SELECT user_id, hour, n_events,
           last_value(obs_avg IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hour
             ROWS UNBOUNDED PRECEDING) AS value_avg,
           n_events = 0 AS is_gap
    FROM j
    """,
    note="T20 gap-fill / resample (the Timescale-style hypertable "
    "op): hourly per-user rollup densified onto a COMPLETE hour "
    "grid — missing cells appear with n_events=0 and the last "
    "observed hourly mean carried forward (NULL before a user's "
    "first observation), is_gap marking synthesized rows. This is "
    "what turns an event stream into the regular time series that "
    "dashboards and feature windows consume. Plan: one rollup agg, "
    "a users x hours grid built by exploding one sequence() against "
    "the user dim (the grid is the OUTPUT size — nothing larger "
    "exists at any point), a co-partitioned left join back, and one "
    "carry-forward window per user. The hour bounds ride a "
    "broadcast 1-row aggregate. Observed means are decimal-sum / "
    "count with one rounded division (base.py policy), and the "
    "carry-forward copies those already-rounded doubles, so every "
    "cell is engine-deterministic.",
)
def t20_gapfill_resample(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    from ..functions.rounding import rhu

    ev = t(spark, sf_dir, "events")
    b = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value")).alias("s"),
    )
    bounds = b.agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    users = ev.select("user_id").distinct()
    grid = (
        users.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.expr("sequence(h0, h1, interval 1 hour)")
            ).alias("hour"),
        )
    )
    j = grid.join(b, ["user_id", "hour"], "left").select(
        "user_id",
        "hour",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        rhu(F.col("s") / F.col("n"), 9).alias("obs_avg"),
    )
    carry = Window.partitionBy("user_id").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return j.select(
        "user_id",
        "hour",
        "n_events",
        F.last("obs_avg", ignorenulls=True).over(carry).alias("value_avg"),
        (F.col("n_events") == 0).alias("is_gap"),
    )


@register(
    "t21_streaming_stream_stream_join",
    oracle=f"""
    SELECT c.event_id AS click_id, c.user_id,
           {_TS.replace('ts', 'c.ts')} AS click_ts,
           p.event_id AS purchase_id,
           {_TS.replace('ts', 'p.ts')} AS purchase_ts,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '2 hours'
    """,
    note="T21 stream-STREAM interval join (clicks x purchases per "
    "user within 2 hours) — the attribution join that needs BOTH "
    "sides buffered in the state store, where t12's stream-static "
    "join broadcasts one side. Watermarks on both streams plus the "
    "two-sided event-time bound let the engine evict: a click older "
    "than watermark+horizon behind the max event time can never "
    "match a future purchase, so state is O(events inside the "
    "horizon window), independent of stream length. availableNow "
    "backfill over the same events lake, checked value-for-value "
    "against the batch SQL join — inner stream-stream joins emit "
    "exactly the batch result once both sides drain.",
)
def t21_streaming_stream_stream_join(spark: SparkSession, sf_dir: str):
    from ..streaming.windows import (
        click_purchase_join,
        read_events_stream,
        run_to_memory,
    )

    ev = read_events_stream(spark, sf_dir)
    joined = click_purchase_join(
        ev.filter(F.col("event_type") == "click"),
        read_events_stream(spark, sf_dir).filter(
            F.col("event_type") == "purchase"
        ),
        horizon="2 hours",
    )
    run_to_memory(
        joined,
        "t21_stream_stream_sink",
        output_mode="append",
        n_partitions=8,
    )
    return spark.table("t21_stream_stream_sink")


MERGE_CUTOFF = "2024-01-16 00:00:00"
TOMBSTONE_BELOW = 1.0


@register(
    "d09_merge_upsert",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_type, value, ts FROM (
        SELECT user_id, event_type, value, {_TS} AS ts,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY {_TS} DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '{MERGE_CUTOFF}')
      WHERE rn = 1),
    changes AS (
      SELECT user_id, event_type, value, ts FROM (
        SELECT user_id, event_type, value, {_TS} AS ts,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY {_TS} DESC, event_id DESC) AS rn
        FROM events WHERE ts >= TIMESTAMP '{MERGE_CUTOFF}')
      WHERE rn = 1),
    merged AS (
      SELECT COALESCE(c.user_id, b.user_id) AS user_id,
             COALESCE(c.event_type, b.event_type) AS event_type,
             COALESCE(c.value, b.value) AS value,
             COALESCE(c.ts, b.ts) AS last_seen,
             CASE WHEN c.user_id IS NULL THEN 'keep'
                  WHEN b.user_id IS NULL THEN 'insert'
                  ELSE 'update' END AS op,
             c.value AS c_value
      FROM base b FULL OUTER JOIN changes c
        ON b.user_id = c.user_id AND b.event_type = c.event_type)
    SELECT user_id, event_type, value, last_seen, op
    FROM merged
    WHERE NOT (op <> 'keep' AND c_value < {TOMBSTONE_BELOW})
    """,
    note="D9 MERGE INTO semantics (the Delta/Iceberg upsert "
    "statement, expressed engine-natively): the pre-cutoff compacted "
    "snapshot is the target, the post-cutoff changes (compacted to "
    "latest per key) are the source, and one FULL OUTER join "
    "dispatches WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN "
    "INSERT / WHEN MATCHED AND tombstone THEN DELETE (change value "
    f"< {TOMBSTONE_BELOW} is the tombstone convention here; a real "
    "CDC feed carries an op column). Both compactions and the merge "
    "join key on (user_id, event_type), so all three shuffles are "
    "co-partitioned — at 100 TB the snapshot would be bucketed on "
    "the key (s06) making the periodic merge shuffle-free on the "
    "target side. Output keeps an op audit column (keep / update / "
    "insert); deleted keys are absent.",
)
def d09_merge_upsert(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value", "event_id"
    )
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    key = Window.partitionBy("user_id", "event_type")

    def compact(df):
        return (
            df.select(
                "user_id",
                "event_type",
                "value",
                "ts",
                F.row_number()
                .over(key.orderBy(F.desc("ts"), F.desc("event_id")))
                .alias("rn"),
            )
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    base = compact(ev.filter(F.col("ts") < cutoff))
    changes = compact(ev.filter(F.col("ts") >= cutoff)).select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_type").alias("c_event_type"),
        F.col("value").alias("c_value"),
        F.col("ts").alias("c_ts"),
    )
    merged = base.join(
        changes,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("event_type") == F.col("c_event_type")),
        "full_outer",
    ).select(
        F.coalesce("c_user_id", "user_id").alias("user_id"),
        F.coalesce("c_event_type", "event_type").alias("event_type"),
        F.coalesce("c_value", "value").alias("value"),
        F.coalesce("c_ts", "ts").alias("last_seen"),
        F.when(F.col("c_user_id").isNull(), "keep")
        .when(F.col("user_id").isNull(), "insert")
        .otherwise("update")
        .alias("op"),
        F.col("c_value"),
    )
    return merged.filter(
        ~((F.col("op") != "keep") & (F.col("c_value") < TOMBSTONE_BELOW))
    ).select("user_id", "event_type", "value", "last_seen", "op")


@register(
    "d10_incremental_agg_maintenance",
    oracle=f"""
    WITH base AS (
      SELECT user_id, COUNT(*) AS n,
             {dsum_sql('value')} AS s
      FROM events WHERE ts < TIMESTAMP '{MERGE_CUTOFF}'
      GROUP BY user_id),
    delta AS (
      SELECT user_id, COUNT(*) AS n,
             {dsum_sql('value')} AS s
      FROM events WHERE ts >= TIMESTAMP '{MERGE_CUTOFF}'
      GROUP BY user_id),
    merged AS (
      SELECT COALESCE(b.user_id, d.user_id) AS user_id,
             COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n_events,
             CAST(COALESCE(CAST(b.s AS DECIMAL(28,2)), 0)
                  + COALESCE(CAST(d.s AS DECIMAL(28,2)), 0)
                  AS DOUBLE) AS sum_value,
             d.user_id IS NOT NULL AS touched_by_delta
      FROM base b FULL OUTER JOIN delta d ON b.user_id = d.user_id)
    SELECT m.user_id, m.n_events, m.sum_value, m.touched_by_delta,
           (m.n_events = f.n AND m.sum_value = f.s) AS matches_full
    FROM merged m
    JOIN (SELECT user_id, COUNT(*) AS n, {dsum_sql('value')} AS s
          FROM events GROUP BY user_id) f
      ON m.user_id = f.user_id
    """,
    note="D10 incremental aggregate maintenance (materialized-view "
    "refresh): a per-user count/sum aggregate materialized before "
    "the cutoff is UPDATED from the post-cutoff delta alone — one "
    "co-partitioned full-outer merge of two partial aggregates, "
    "never a rescan of history. This is the contract that makes "
    "100 TB dashboards affordable: the nightly delta is GB-sized "
    "while the base is TB-sized, and because count/decimal-sum are "
    "mergeable (commutative monoids — the same property the "
    "map-side combine and the sketch family lean on), base ⊕ delta "
    "is EXACTLY the full recompute. The query proves it: "
    "matches_full compares the merged result against a from-scratch "
    "aggregation row-by-row and must be universally true — decimal "
    "addition order-independence is what makes the doubles "
    "bit-equal, not approximately equal. All three aggs key on "
    "user_id, so the merge join inherits co-partitioning.",
)
def d10_incremental_agg_maintenance(spark: SparkSession, sf_dir: str):
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "value")
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")

    def agg(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("s"),
        )

    base = agg(ev.filter(F.col("ts") < cutoff))
    delta = agg(ev.filter(F.col("ts") >= cutoff)).select(
        F.col("user_id").alias("d_user_id"),
        F.col("n").alias("d_n"),
        F.col("s").alias("d_s"),
    )
    merged = base.join(
        delta, base["user_id"] == delta["d_user_id"], "full_outer"
    ).select(
        F.coalesce("user_id", "d_user_id").alias("user_id"),
        (F.coalesce("n", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias(
            "n_events"
        ),
        (
            F.coalesce(F.col("s").cast("decimal(28,2)"), F.lit(0))
            + F.coalesce(F.col("d_s").cast("decimal(28,2)"), F.lit(0))
        )
        .cast("double")
        .alias("sum_value"),
        F.col("d_user_id").isNotNull().alias("touched_by_delta"),
    )
    full = agg(ev).select(
        F.col("user_id").alias("f_user_id"),
        F.col("n").alias("f_n"),
        F.col("s").alias("f_s"),
    )
    return merged.join(
        full, merged["user_id"] == full["f_user_id"]
    ).select(
        "user_id",
        "n_events",
        "sum_value",
        "touched_by_delta",
        (
            (F.col("n_events") == F.col("f_n"))
            & (F.col("sum_value") == F.col("f_s"))
        ).alias("matches_full"),
    )


CUSUM_K = 30.0   # slack per reading
CUSUM_H = 250.0  # alarm threshold


@register(
    "t23_cusum_changepoint",
    oracle=f"""
    WITH RECURSIVE vals AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY {_TS}, event_id) AS i
      FROM events),
    tgt AS (
      SELECT user_id, COUNT(*) AS n,
             floor(({dsum_sql('value')} / COUNT(*)) * 1e9 + 0.5) / 1e9
               AS target
      FROM events GROUP BY user_id),
    step(user_id, i, s, n_alarms, smax) AS (
      SELECT user_id, 0, CAST(0 AS DOUBLE), 0, CAST(0 AS DOUBLE) FROM tgt
      UNION ALL
      SELECT st.user_id, st.i + 1,
             greatest(CAST(0 AS DOUBLE), st.s + v.value - t.target - CAST({CUSUM_K!r} AS DOUBLE)),
             st.n_alarms + CASE WHEN
               greatest(CAST(0 AS DOUBLE), st.s + v.value - t.target - CAST({CUSUM_K!r} AS DOUBLE))
                 > CAST({CUSUM_H!r} AS DOUBLE) THEN 1 ELSE 0 END,
             greatest(st.smax,
               greatest(CAST(0 AS DOUBLE), st.s + v.value - t.target - CAST({CUSUM_K!r} AS DOUBLE)))
      FROM step st
      JOIN tgt t ON t.user_id = st.user_id
      JOIN vals v ON v.user_id = st.user_id AND v.i = st.i + 1)
    SELECT s.user_id, t.n AS n_events, s.n_alarms,
           floor(s.smax * 1e9 + 0.5) / 1e9 AS max_cusum,
           s.n_alarms > 0 AS drifted
    FROM step s JOIN tgt t ON s.user_id = t.user_id AND s.i = t.n
    """,
    note=f"T23 CUSUM change-point detection (k={CUSUM_K}, "
    f"h={CUSUM_H}): the classic sequential drift monitor — per user, "
    "the one-sided cumulative sum s_i = max(0, s_(i-1) + x_i - "
    "target - k) accumulates only sustained upward excursions from "
    "the user's own mean and alarms when it crosses h; single "
    "outliers decay, sustained shifts compound (what a telemetry "
    "pipeline runs to catch level shifts dq03's distribution-level "
    "PSI can't localize). Order-SENSITIVE by definition, so it uses "
    "the t17 contract: one shuffle groups each user's readings, the "
    "fold runs element-by-element over the (ts, event_id)-sorted "
    "array with a STRUCT accumulator (state, alarm count, running "
    "max) — Spark aggregate() and DuckDB's recursive-CTE step "
    "execute the identical IEEE sequence, so only the final value "
    "rounds. Bounded-group contract documented (a09/a13/t17 "
    "family); the unbounded-stream form is a t16-style stateful "
    "fold.",
)
def t23_cusum_changepoint(spark: SparkSession, sf_dir: str):
    from ..functions.rounding import rhu

    ev = t(spark, sf_dir, "events")
    xs = F.sort_array(
        F.collect_list(F.struct("ts", "event_id", "value"))
    )
    g = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        rhu(
            dsum(F.col("value")) / F.count(F.lit(1)).cast("double"), 9
        ).alias("target"),
        xs.alias("xs"),
    )

    def step(acc, x):
        s_new = F.greatest(
            F.lit(0.0),
            acc.getField("s")
            + x.getField("value")
            - F.col("target")
            - F.lit(CUSUM_K),
        )
        return F.struct(
            s_new.alias("s"),
            (
                acc.getField("na")
                + F.when(s_new > CUSUM_H, 1).otherwise(0)
            ).alias("na"),
            F.greatest(acc.getField("smax"), s_new).alias("smax"),
        )

    zero = F.struct(
        F.lit(0.0).alias("s"),
        F.lit(0).alias("na"),
        F.lit(0.0).alias("smax"),
    )
    fold = F.aggregate(F.col("xs"), zero, step)
    return g.select(
        "user_id",
        "n_events",
        fold.getField("na").alias("n_alarms"),
        rhu(fold.getField("smax"), 9).alias("max_cusum"),
        (fold.getField("na") > 0).alias("drifted"),
    )


_E06_ORACLE = f"""
    WITH f AS (
      SELECT user_id, event_type,
             time_bucket(INTERVAL '1 hour', {_TS}) AS hr
      FROM events WHERE value > 5.0),
    kept AS (SELECT DISTINCT user_id, event_type, hr FROM f),
    agg AS (
      SELECT time_bucket(INTERVAL '6 hours', hr) AS window_start,
             event_type, COUNT(*) AS n_active
      FROM kept GROUP BY 1, 2),
    wm AS (SELECT MAX(hr) - INTERVAL '2 hours' AS cutoff FROM f)
    SELECT window_start,
           window_start + INTERVAL '6 hours' AS window_end,
           event_type, n_active
    FROM agg, wm
    WHERE window_start + INTERVAL '6 hours' <= cutoff
    """


def _e06_agg(spark: SparkSession, sf_dir: str):
    """The e06 incremental plan (filter -> watermarked dedup -> 6h
    tumbling counts in append mode), shared by the memory-sink (e06)
    and MERGE-snapshot (t24) drains."""
    from ..streaming.windows import read_events_stream

    ev = read_events_stream(spark, sf_dir).filter(F.col("value") > 5.0)
    hr = ev.select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("hr")
    )
    dd = hr.withWatermark("hr", "2 hours").dropDuplicates(
        ["user_id", "event_type", "hr"]
    )
    return (
        dd.groupBy(F.window("hr", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_active",
        )
    )


@register(
    "e06_streaming_pipeline",
    oracle=_E06_ORACLE,
    note="E6 streaming flagship: TWO stateful operators chained in "
    "ONE incremental query — filter -> per-(user, type, hour) "
    "event coalescing (watermarked dropDuplicates: the rate-limit/"
    "retry-collapse step every ingest runs) -> 6-hour tumbling "
    "active-event counts in APPEND mode, so only watermark-"
    "finalized windows ever reach the sink (the exactly-once "
    "contract downstream writers rely on; complete-mode t07 re-"
    "emits everything). Determinism under ANY duplicate-arrival "
    "order: the dedup key includes the hour-truncated timestamp "
    "that the window also consumes, so whichever representative "
    "wins lands in the same window — counts are pure functions of "
    "the distinct key set. The oracle replays the same pipeline in "
    "SQL and keeps windows whose end is at or before the final "
    "watermark (max event hour - 2h): append mode finalizes a "
    "window once the watermark MEETS OR EXCEEDS its end (verified "
    "empirically on Spark 4.1.2 — a window whose end equals the "
    "final watermark IS emitted, so the boundary is <=, not <). "
    "Bounded-backfill determinism "
    "note: the testdata events lake is a single file, so the "
    "availableNow drain sees one data batch and no mid-stream "
    "watermark can drop late rows; a multi-file lake replays with "
    "per-file batches and the same oracle holds only when files "
    "are time-ordered (the production layout).",
)
def e06_streaming_pipeline(spark: SparkSession, sf_dir: str):
    from ..streaming.windows import run_to_memory

    run_to_memory(
        _e06_agg(spark, sf_dir),
        "e06_streaming_pipeline_sink",
        output_mode="append",
        n_partitions=8,
    )
    return spark.table("e06_streaming_pipeline_sink")


@register(
    "t24_streaming_merge_sink",
    oracle=_E06_ORACLE,
    note="T24 idempotent foreachBatch MERGE sink — the missing last "
    "meter of the streaming story: e06's append-mode output drained "
    "through a foreachBatch that MERGEs each micro-batch into a "
    "parquet snapshot keyed on (window_start, event_type), with the "
    "last-committed batchId recorded so a re-delivered batch is a "
    "no-op (Structured Streaming delivers batches at-least-once; "
    "exactly-once downstream is the SINK's idempotency, proven for "
    "re-delivery in tests/test_streaming.py). The registered result "
    "is the SNAPSHOT read back from parquet, and the oracle is the "
    "batch replay of the whole pipeline (e06's SQL == a batch MERGE "
    "of all finalized windows, the d09 shape) — so a MERGE bug "
    "(dropped keys, double-applied rows, lost unmatched target rows) "
    "fails the value hash. Per-batch cost: one co-partitioned "
    "anti-join on the key + the batch insert; at 100 TB the snapshot "
    "is bucketed on the key (s06) and the swap is a table-format "
    "transactional commit (documented seam in streaming/sinks.py).",
)
def t24_streaming_merge_sink(spark: SparkSession, sf_dir: str):
    import os
    import shutil

    from ..streaming.sinks import run_to_merge_snapshot
    from .extras import _scratch_dir

    # deterministic per-SF path (the repo's sink convention — mkdtemp
    # leaks an orphan dir per invocation); reset snapshot AND batchId
    # metadata so each invocation is a fresh stream, not a replay
    # skipped by the idempotency guard
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(_scratch_dir(), f"t24_snapshot_{sf_tag}")
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + ".tmp", ignore_errors=True)
    try:
        os.remove(path + ".meta.json")
    except OSError:
        pass
    run_to_merge_snapshot(
        _e06_agg(spark, sf_dir),
        path,
        keys=["window_start", "event_type"],
        n_partitions=8,
    )
    return spark.read.parquet(path).select(
        "window_start", "window_end", "event_type", "n_active"
    )


def _running_stats_upsert(spark: SparkSession, sf_dir: str, sink: str):
    """Drain running_user_stats over the events stream into `sink` and
    keep each user's max-n_events emission (n_events strictly
    increases across a key's emissions): the batch per-user
    (n_events, n_high, last_us) however the backlog splits."""
    from ..streaming.stateful import running_user_stats
    from ..streaming.windows import read_events_stream, run_to_memory

    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "value"
    )
    run_to_memory(
        running_user_stats(stream),
        sink,
        output_mode="append",
        n_partitions=8,
    )
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "n_high", "last_us"), "n_events"
            ).alias("s")
        )
        .select("user_id", "s.n_events", "s.n_high", "s.last_us")
    )


@register(
    "t25_stateful_running_stats",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN value > 5.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high,
           MAX({_TS}) AS last_ts
    FROM events
    GROUP BY user_id
    """,
    note="T25 arbitrary stateful streaming: per-user (n_events, "
    "n_high, last_ts) — event count, count of value > 5.0 and latest "
    "event time — folded across micro-batches by applyInPandasWithState "
    "(streaming/stateful.py running_user_stats). Each batch's emission "
    "supersedes the last; the query keeps each user's max-n_events "
    "emission, so the result equals the batch aggregate however the "
    "backlog splits. The fold emits last_us as epoch-micros LONG and "
    "the timestamp is cast in-plan (timestamp_micros), never by "
    "pandas in the worker. O(1) state per key; shuffle on user_id "
    "only.",
)
def t25_stateful_running_stats(spark: SparkSession, sf_dir: str):
    stats = _running_stats_upsert(spark, sf_dir, "t25_stats_sink")
    return stats.select(
        "user_id",
        "n_events",
        "n_high",
        F.timestamp_micros(F.col("last_us")).alias("last_ts"),
    )


@register(
    "t25b_stateful_running_stats_us",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN value > 5.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high,
           epoch_us(MAX({_TS})) AS last_us
    FROM events
    GROUP BY user_id
    """,
    note="T25 with last_us kept as plain epoch-micros LONG end to end: "
    "per-user (n_events, n_high, last_us) from the same fold and "
    "upsert, with no timestamp anywhere on the hash path. If t25 "
    "mismatches while t25b passes, the divergence is in timestamp "
    "normalization; if both mismatch, it is in the fold.",
)
def t25b_stateful_running_stats_us(spark: SparkSession, sf_dir: str):
    return _running_stats_upsert(spark, sf_dir, "t25b_stats_sink")


@register(
    "t26_streaming_histogram",
    oracle=f"""
    SELECT time_bucket(INTERVAL '6 hours', {_TS}) AS window_start,
           event_type AS grp,
           CAST(floor((CAST(value AS DOUBLE) - 0.0) / 2.5) AS BIGINT)
             AS bin_idx,
           0.0 + CAST(floor((CAST(value AS DOUBLE) - 0.0) / 2.5)
                AS BIGINT) * 2.5 AS bin_lo,
           0.0 + (CAST(floor((CAST(value AS DOUBLE) - 0.0) / 2.5)
                AS BIGINT) + 1) * 2.5 AS bin_hi,
           COUNT(*) AS n
    FROM events
    WHERE CAST(value AS DOUBLE) > 0.0 AND CAST(value AS DOUBLE) < 100.0
    GROUP BY 1, 2, 3
    """,
    note="T26 streaming grouped histogram (streaming/windows.py "
    "windowed_histogram): a21's density table computed incrementally "
    "per 6h event-time window — the live distribution monitor of a "
    "training-data feed (dq03 drift detection's streaming face). "
    "State is bounded at windows-in-watermark x groups x bins counts "
    "no matter the input rate; complete-mode drain over the bounded "
    "backfill hash-matches the batch GROUP BY exactly (bin width 2.5 "
    "= (100-0)/40 inlined identically in both engines).",
)
def t26_streaming_histogram(spark: SparkSession, sf_dir: str):
    from ..streaming.windows import (
        read_events_stream,
        run_to_memory,
        windowed_histogram,
    )

    stream = windowed_histogram(read_events_stream(spark, sf_dir))
    run_to_memory(
        stream,
        "t26_streaming_histogram_sink",
        output_mode="complete",
        n_partitions=8,
    )
    return spark.table("t26_streaming_histogram_sink")


# ---------------------------------------------------------------------------
# T27: consecutive sequence-pattern detection (MATCH_RECOGNIZE analogue)
# ---------------------------------------------------------------------------

from pyspark.sql import Window as _W  # noqa: E402

FUNNEL_PATTERN = ("view", "click", "purchase")


@register(
    "t27_sequence_pattern",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e1,
             lead(event_type, 2) OVER w AS e2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, COUNT(*) AS n_matches
    FROM seq
    WHERE event_type = '{FUNNEL_PATTERN[0]}'
      AND e1 = '{FUNNEL_PATTERN[1]}'
      AND e2 = '{FUNNEL_PATTERN[2]}'
    GROUP BY 1
    """,
    note="T27 sequence-pattern matching (SQL:2016 MATCH_RECOGNIZE's "
    f"strictly-contiguous {'->'.join(FUNNEL_PATTERN)} pattern, which "
    "Spark lacks natively): lead(1)/lead(2) over one (user, time) "
    "window turn the pattern into a row-local predicate — ONE "
    "user-keyed shuffle + in-partition sort, both lead()s share the "
    "same window frame so Catalyst evaluates them in a single Window "
    "node. Contrast with t15's funnel, which counts users reaching "
    "each stage ANYWHERE in their history; t27 counts exact "
    "consecutive occurrences per user. Ordering ties broken by "
    "event_id, so the lead() values — and the count — are "
    "deterministic under any partitioning.",
)
def t27_sequence_pattern(spark: SparkSession, sf_dir: str):
    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    )
    return (
        seq.filter(
            (F.col("event_type") == FUNNEL_PATTERN[0])
            & (F.col("e1") == FUNNEL_PATTERN[1])
            & (F.col("e2") == FUNNEL_PATTERN[2])
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


# ---------------------------------------------------------------------------
# T28: Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------


@register(
    "t28_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events)
    SELECT from_type, to_type, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER (PARTITION BY from_type)
                    AS DOUBLE) AS p
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY 1, 2
    """,
    note="T28 first-order Markov transition matrix of user behavior "
    "(the session-flow model behind next-event prediction and "
    "anomaly scoring): lead() pairs consecutive events per user (one "
    "user-keyed shuffle), a grouped count per (from, to) state pair "
    "(k^2 = 25 result rows), and row-normalization via a window sum "
    "over the TINY aggregated matrix — the normalizing pass costs "
    "k^2 rows, not data. p is one exact-integer division, so it is "
    "bit-reproducible without rounding. At 100 TB the plan is scan + "
    "one shuffle + O(k^2) bookkeeping; per-user sequences never "
    "leave their partition after the window sort.",
)
def t28_markov_transitions(spark: SparkSession, sf_dir: str):
    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    counts = (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_from = _W.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(w_from).cast("double")
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# T29: streaming windowed top-k (rank on the drained counts table)
# ---------------------------------------------------------------------------

TOPK_PER_WINDOW = 3


@register(
    "t29_streaming_topk",
    oracle=f"""
    WITH c AS (
      SELECT time_bucket(INTERVAL '6 hours', {_TS}) AS window_start,
             event_type, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2)
    SELECT window_start, event_type, n_events, rank FROM (
      SELECT c.*,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, event_type ASC)
               AS rank
      FROM c)
    WHERE rank <= {TOPK_PER_WINDOW}
    """,
    note=f"T29 streaming top-{TOPK_PER_WINDOW} event types per 6h "
    "window — the live 'trending' board (n15's streaming face). The "
    "stream maintains only the windowed COUNTS (watermark-bounded "
    "state, one row per window x type — the same bounded-state "
    "discipline as t07/t26); the top-k RANK runs at serve time over "
    "the drained counts table, because a global per-window rank is "
    "not incrementally emittable under append mode (a late row can "
    "dethrone a leader) — ranking the compacted counts at query time "
    "is the standard serving pattern and costs k' = windows x types "
    "rows, not data. Deterministic (count DESC, type ASC) tiebreak.",
)
def t29_streaming_topk(spark: SparkSession, sf_dir: str):
    from ..streaming.windows import (
        read_events_stream,
        run_to_memory,
        tumbling_counts,
    )

    stream = tumbling_counts(
        read_events_stream(spark, sf_dir), window="6 hours"
    ).select("window_start", "event_type", "n_events")
    run_to_memory(
        stream,
        "t29_streaming_topk_sink",
        output_mode="complete",
        n_partitions=8,
    )
    counts = spark.table("t29_streaming_topk_sink")
    w = _W.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return counts.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOPK_PER_WINDOW
    )


# ---------------------------------------------------------------------------
# T30: last-touch attribution (last-non-null over a preceding frame)
# ---------------------------------------------------------------------------

ATTR_TOUCH, ATTR_CONV = "click", "purchase"


@register(
    "t30_last_touch_attribution",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, event_type,
                      {_TS} AS ts FROM events),
    a AS (
      SELECT user_id, event_id, event_type, ts,
             last_value(CASE WHEN event_type = '{ATTR_TOUCH}'
                             THEN event_id END IGNORE NULLS)
               OVER w AS click_id,
             last_value(CASE WHEN event_type = '{ATTR_TOUCH}'
                             THEN epoch_us(ts) END IGNORE NULLS)
               OVER w AS click_us
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id AS purchase_id, click_id,
           epoch_us(ts) - click_us AS gap_us
    FROM a WHERE event_type = '{ATTR_CONV}'
    """,
    note=f"T30 last-touch attribution: each {ATTR_CONV!r} credits the "
    f"user's most recent strictly-preceding {ATTR_TOUCH!r} — the "
    "marketing-attribution join every event platform runs, spelled "
    "as last-NON-NULL over a (user, time) window with a 1-PRECEDING "
    "frame end instead of the naive per-conversion as-of self-join "
    "(t06 does the two-table as-of; t30 is the single-stream "
    "sequential form: one shuffle, one sort, zero joins). Both "
    "last_value()s share one frame, so Catalyst evaluates a single "
    "Window node; never-touched conversions keep NULL click_id "
    "(outer semantics for free). Gap is exact integer microseconds.",
)
def t30_last_touch_attribution(spark: SparkSession, sf_dir: str):
    w = (
        _W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(_W.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type") == ATTR_TOUCH
    a = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("click_id"),
        F.last(
            F.when(is_touch, F.unix_micros(F.col("ts"))),
            ignorenulls=True,
        )
        .over(w)
        .alias("click_us"),
    )
    return a.filter(F.col("event_type") == ATTR_CONV).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        "click_id",
        (F.unix_micros(F.col("ts")) - F.col("click_us")).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# T31: new users per day + cumulative distinct reach
# ---------------------------------------------------------------------------


@register(
    "t31_cumulative_reach",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, date_trunc('hour', MIN({_TS})) AS first_hour
      FROM events GROUP BY user_id),
    hourly AS (
      SELECT first_hour AS hour, COUNT(*) AS n_new_users
      FROM firsts GROUP BY 1)
    SELECT hour, n_new_users,
           CAST(SUM(n_new_users) OVER (ORDER BY hour
                                       ROWS UNBOUNDED PRECEDING)
                AS BIGINT)
             AS cumulative_reach
    FROM hourly
    """,
    note="T31 cumulative reach: NEW users per hour and running distinct "
    "users to date (hourly so the fixture exercises a real series) - "
    "the growth-dashboard staple that naive "
    "COUNT(DISTINCT) OVER cannot express in Spark (distinct window "
    "aggregates are unsupported) and would cost a rescan per day "
    "per day anyway. First-occurrence reduction: MIN(ts) per "
    "user (one user-keyed shuffle, map-side combined), an hour-level "
    "count, and a running sum over the TINY hourly table. "
    "The final ordered window runs on ~9k rows/year — bookkeeping, "
    "not data; at 100 TB the only data-sized stage is the per-user "
    "MIN, which is the minimal information the answer needs.",
)
def t31_cumulative_reach(spark: SparkSession, sf_dir: str):
    firsts = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select(F.date_trunc("hour", "first_ts").alias("hour"))
    )
    hourly = firsts.groupBy("hour").agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = (
        _W.orderBy("hour")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    return hourly.select(
        "hour",
        "n_new_users",
        F.sum("n_new_users").over(w).alias("cumulative_reach"),
    )


# ---------------------------------------------------------------------------
# T32: lag-1 autocorrelation per group (time-series diagnostics)
# ---------------------------------------------------------------------------


@register(
    "t32_lag1_autocorr",
    oracle=f"""
    WITH s AS (
      SELECT event_type, value AS v,
             lag(value) OVER (PARTITION BY event_type
                              ORDER BY {_TS}, event_id) AS pv
      FROM events),
    p AS (SELECT event_type, v, pv FROM s WHERE pv IS NOT NULL),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(v AS DECIMAL(28,2))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(pv AS DECIMAL(28,2))) AS DOUBLE) AS sp,
             CAST(SUM(CAST(v * pv AS DECIMAL(38,4))) AS DOUBLE) AS svp,
             CAST(SUM(CAST(v * v AS DECIMAL(38,4))) AS DOUBLE) AS svv,
             CAST(SUM(CAST(pv * pv AS DECIMAL(38,4))) AS DOUBLE) AS spp
      FROM p GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           {{rhu}} AS lag1_autocorr
    FROM m
    """.replace(
        "{rhu}",
        "floor((n * svp - sv * sp) / (sqrt(n * svv - sv * sv) "
        "* sqrt(n * spp - sp * sp)) * 1e9 + 0.5) / 1e9",
    ),
    note="T32 lag-1 autocorrelation of event values per type (ordered "
    "by event time): the serial-dependence diagnostic behind "
    "forecasting-readiness checks and random-walk tests. lag() pairs "
    "each value with its predecessor inside ONE (type, time) window "
    "shuffle; the Pearson correlation of (v, lag v) then rebuilds "
    "from exact-DECIMAL sufficient statistics in a second combine "
    "(a23's ML-as-aggregate discipline — the shuffle after the "
    "window carries k rows). rhu(9) guards the final two sqrt/div "
    "ulps; everything upstream is exact.",
)
def t32_lag1_autocorr(spark: SparkSession, sf_dir: str):
    from ..functions.rounding import rhu as _rhu

    w = _W.partitionBy("event_type").orderBy("ts", "event_id")
    s = t(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").alias("v"),
        F.lag("value").over(w).alias("pv"),
    )
    p = s.filter(F.col("pv").isNotNull())

    def dsum4(expr):
        return F.sum(expr.cast("decimal(38,4)")).cast("double")

    m = p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("v").cast("decimal(28,2)")).cast("double").alias("sv"),
        F.sum(F.col("pv").cast("decimal(28,2)")).cast("double").alias("sp"),
        dsum4(F.col("v") * F.col("pv")).alias("svp"),
        dsum4(F.col("v") * F.col("v")).alias("svv"),
        dsum4(F.col("pv") * F.col("pv")).alias("spp"),
    )
    n, sv, sp = F.col("n"), F.col("sv"), F.col("sp")
    corr = (n * F.col("svp") - sv * sp) / (
        F.sqrt(n * F.col("svv") - sv * sv)
        * F.sqrt(n * F.col("spp") - sp * sp)
    )
    return m.select(
        "event_type",
        n.cast("bigint").alias("n_pairs"),
        _rhu(corr, 9).alias("lag1_autocorr"),
    )


# ---------------------------------------------------------------------------
# T33: streaming cumulative reach (per-user MIN fold + rank-on-drain)
# ---------------------------------------------------------------------------


@register(
    "t33_streaming_reach",
    oracle=_REGISTRY["t31_cumulative_reach"].oracle,
    note="T33 streaming cumulative reach — t31's growth dashboard fed "
    "by a stream: the streaming side maintains ONLY the per-user "
    "MIN(event time) fold (deterministic under ANY micro-batch "
    "split, unlike dropDuplicates' first-PROCESSED-row, which would "
    "make the user's debut hour depend on processing order); the "
    "hourly count and running reach run at serve time over the "
    "drained user-sized table, t29's rank-on-drain discipline. Same "
    "oracle as t31 — stream and batch must agree exactly. State "
    "honesty (t11's note applies): one state row per user forever is "
    "inherent to all-time reach; a live deployment bounds it by "
    "windowing reach (weekly/monthly cohorts) or accepting the "
    "user-cardinality state, which is the product decision, not an "
    "engine limit.",
)
def t33_streaming_reach(spark: SparkSession, sf_dir: str):
    from ..streaming.windows import read_events_stream, run_to_memory

    firsts = (
        read_events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
    )
    run_to_memory(
        firsts,
        "t33_streaming_reach_sink",
        output_mode="complete",
        n_partitions=8,
    )
    hourly = (
        spark.table("t33_streaming_reach_sink")
        .select(F.date_trunc("hour", "first_ts").alias("hour"))
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n_new_users"))
    )
    w = _W.orderBy("hour").rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    return hourly.select(
        "hour",
        "n_new_users",
        F.sum("n_new_users").over(w).alias("cumulative_reach"),
    )


# ---------------------------------------------------------------------------
# T34: per-user x event-type running counts
# ---------------------------------------------------------------------------


@register(
    "t34_stateful_type_counts",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events
    GROUP BY user_id, event_type
    """,
    note="T34 arbitrary stateful streaming: per (user_id, event_type) "
    "event count n, folded across micro-batches by "
    "applyInPandasWithState (streaming/stateful.py per_type_counts) "
    "with one count of state per key. Each batch a key appears in "
    "re-emits its count, which strictly increases, so the max-n "
    "upsert recovers the batch GROUP BY under any micro-batch split.",
)
def t34_stateful_type_counts(spark: SparkSession, sf_dir: str):
    from ..streaming.stateful import per_type_counts
    from ..streaming.windows import read_events_stream, run_to_memory

    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "event_type"
    )
    run_to_memory(
        per_type_counts(stream),
        "t34_counts_sink",
        output_mode="append",
        n_partitions=8,
    )
    sink = spark.table("t34_counts_sink")
    # upsert: counts strictly increase across a key's emissions
    return sink.groupBy("user_id", "event_type").agg(
        F.max("n").alias("n")
    )


# ---------------------------------------------------------------------------
# T35: timer-closed sessions — event-time timers made driver-checkable
# ---------------------------------------------------------------------------

_T35_GAP_MIN = 10
_T35_WM = "1 minute"
_T35_WM_MS = 60_000
_T35_GAP_MS = _T35_GAP_MIN * 60_000


@register(
    "t35_timer_closed_sessions",
    oracle=f"""
    WITH e AS (SELECT user_id, {_TS} AS ts FROM events),
         x AS (SELECT user_id, ts,
                      CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w
                                  >= INTERVAL '{_T35_GAP_MIN} minutes'
                           THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (SELECT user_id, ts,
                      SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
               FROM x),
         s AS (SELECT user_id, MIN(ts) AS session_start,
                      MAX(ts) AS session_last,
                      COUNT(*) AS n_events
               FROM y GROUP BY user_id, sid),
         r AS (SELECT s.*,
                      ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY session_last DESC) AS rn,
                      (SELECT MAX(ts) FROM e) AS mx
               FROM s)
    SELECT user_id, session_start, session_last, n_events
    FROM r
    WHERE rn > 1
       OR epoch_us(session_last) // 1000 + {_T35_GAP_MS}
            < epoch_us(mx) // 1000 - {_T35_WM_MS}
    """,
    note="T35 timer-closed sessionization: per user, every session "
    "(session_start, session_last, n_events) with a 10-minute gap "
    "rule, closed either when the NEXT event reveals the gap or when "
    "the event-time watermark passes last + gap with no further "
    "events (applyInPandasWithState with EventTimeTimeout, "
    "streaming/stateful.py timer_closed_sessions). The drained result "
    "is exactly expressible in SQL: every gaps-and-islands session "
    "EXCEPT each user's final one, which emits only if its gap "
    "elapsed before the final watermark (MAX(ts) - delay) — so the "
    "oracle checks BOTH close paths with full values. Boundary: the "
    "timeout fires only when the watermark strictly exceeds its "
    "timestamp, so a final session closes iff watermark_ms > "
    "floor(last_us/1000) + gap_ms, and the oracle applies the same "
    "ms-floored strict inequality (pinned by "
    "test_timer_sessions_millisecond_boundary_window). The timeout "
    "follows the STREAM (the watermark), never wall clock; "
    "correctness inherits the watermark contract itself (arrival "
    "disorder bounded by the delay — Spark drops later rows before "
    "they reach the operator, like every event-time operator t07+). "
    "State O(1) per key; shuffle on user_id only; sessions never "
    "re-emit (state clears on close).",
)
def t35_timer_closed_sessions(spark: SparkSession, sf_dir: str):
    from ..streaming.stateful import timer_closed_sessions
    from ..streaming.windows import read_events_stream, run_to_memory

    stream = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "ts")
        .withWatermark("ts", _T35_WM)
    )
    run_to_memory(
        timer_closed_sessions(stream, gap_minutes=_T35_GAP_MIN),
        "t35_sessions_sink",
        output_mode="append",
        n_partitions=8,
    )
    sink = spark.table("t35_sessions_sink")
    # timestamps materialized in-plan from the LONG emissions — the
    # t25 discipline: nothing on the hash path converts via pandas
    return sink.select(
        "user_id",
        F.timestamp_micros(F.col("session_start_us")).alias(
            "session_start"
        ),
        F.timestamp_micros(F.col("session_last_us")).alias(
            "session_last"
        ),
        "n_events",
    )
