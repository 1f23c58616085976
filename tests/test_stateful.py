"""Stateful sessionization parity: closed sessions emitted by the
applyInPandasWithState operator must equal the batch t03 session
query, minus each user's final (still-open) session."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_bowl_spark.queries.temporal import t03_session_window
from big_data_bowl_spark.streaming.stateful import sessionize
from big_data_bowl_spark.streaming.windows import read_events_stream, run_to_memory


def test_stateful_sessions_match_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir).select("user_id", "ts")
    run_to_memory(sessionize(stream), "stateful_sessions", output_mode="append")
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("stateful_sessions").collect()
    }

    batch = t03_session_window(spark, sf_dir)
    # drop each user's final session: the stateful op keeps it open
    # (no timeout fires during a single availableNow drain)
    w = Window.partitionBy("user_id").orderBy(F.desc("session_start"))
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .drop("rn")
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_state_carries_across_microbatches(spark, sf_dir, tmp_path):
    import os

    from big_data_bowl_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    median = ev.withColumn("us", F.unix_micros("ts")).approxQuantile(
        "us", [0.5], 0.0
    )[0]
    early = ev.filter(F.unix_micros("ts") < F.lit(int(median)))
    late = ev.filter(F.unix_micros("ts") >= F.lit(int(median)))

    src = tmp_path / "events_split"
    early.coalesce(1).write.parquet(str(src / "b1"))
    late.coalesce(1).write.parquet(str(src / "b2"))
    # force processing order: the file source orders by mod time
    for i, sub in enumerate(["b1", "b2"]):
        for f in (src / sub).glob("*.parquet"):
            os.utime(f, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    run_to_memory(sessionize(stream), "split_sessions", output_mode="append")
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("split_sessions").collect()
    }

    # sessions spanning the file split must be stitched by state: the
    # expected closed set is the batch result minus open sessions
    batch = t03_session_window(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("session_start"))
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .drop("rn")
        .collect()
    }
    assert got == want


def test_cdc_state_folds_across_microbatches(spark, sf_dir, tmp_path):
    """latest_per_key must merge state across micro-batches: splitting
    the changelog in two files and draining file-by-file, the LAST
    emission per key must equal the batch d07 compaction."""
    import os

    from big_data_bowl_spark.queries.temporal import d07_cdc_compaction
    from big_data_bowl_spark.sources.io import load_table
    from big_data_bowl_spark.streaming.stateful import latest_per_key
    from big_data_bowl_spark.streaming.windows import run_to_memory

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value", "event_id"
    )
    median = ev.withColumn("us", F.unix_micros("ts")).approxQuantile(
        "us", [0.5], 0.0
    )[0]
    early = ev.filter(F.unix_micros("ts") < F.lit(int(median)))
    late = ev.filter(F.unix_micros("ts") >= F.lit(int(median)))

    src = tmp_path / "cdc_split"
    early.coalesce(1).write.parquet(str(src / "b1"))
    late.coalesce(1).write.parquet(str(src / "b2"))
    for i, sub in enumerate(["b1", "b2"]):
        for f in (src / sub).glob("*.parquet"):
            os.utime(f, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, ts timestamp, "
            "value double, event_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    run_to_memory(latest_per_key(stream), "cdc_split_sink", "append")
    emitted = spark.table("cdc_split_sink").collect()
    # a key seen in both batches emits twice; the LAST (max n_versions)
    # emission is the compaction
    last = {}
    for r in emitted:
        k = (r.user_id, r.event_type)
        if k not in last or r.n_versions > last[k].n_versions:
            last[k] = r
    got = {
        k: (r.latest_value, r.last_seen, r.first_seen, r.n_versions)
        for k, r in last.items()
    }
    want = {
        (r.user_id, r.event_type): (
            r.latest_value, r.last_seen, r.first_seen, r.n_versions,
        )
        for r in d07_cdc_compaction(spark, sf_dir).collect()
    }
    assert got == want
    # state genuinely folded: at least one key spans both batches
    assert any(
        sum(1 for r in emitted if (r.user_id, r.event_type) == k) == 2
        for k in want
    )


def test_cdc_null_value_preserved(spark, tmp_path):
    """ADVICE r5: a NULL event value must stay NULL through the
    stateful compaction (batch d07 and the shared oracle keep it);
    float-coercing it to NaN silently diverged."""
    src = tmp_path / "cdc_nulls"
    rows = [
        (1, "click", "2024-01-01 00:00:00", 5.0, 10),
        (1, "click", "2024-01-01 00:01:00", None, 11),  # newest: NULL
        (2, "view", "2024-01-01 00:00:00", None, 20),
        (2, "view", "2024-01-01 00:01:00", 7.5, 21),  # newest: value
    ]
    spark.createDataFrame(
        rows,
        "user_id long, event_type string, ts_s string, "
        "value double, event_id long",
    ).select(
        "user_id", "event_type",
        F.to_timestamp("ts_s").alias("ts"), "value", "event_id",
    ).coalesce(1).write.parquet(str(src))

    from big_data_bowl_spark.streaming.stateful import latest_per_key
    from big_data_bowl_spark.streaming.windows import run_to_memory

    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, ts timestamp, "
            "value double, event_id long"
        )
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(src))
    )
    run_to_memory(latest_per_key(stream), "cdc_nulls_sink", "append")
    got = {
        (r.user_id, r.event_type): (r.latest_value, r.n_versions)
        for r in spark.table("cdc_nulls_sink").collect()
    }
    assert got == {(1, "click"): (None, 2), (2, "view"): (7.5, 2)}


def test_stream_stream_join_matches_across_microbatches(
    spark, tmp_path
):
    """Stream-stream join state must hold across micro-batches: the
    click arrives in file 1 and its matching purchase in file 2, so
    the pair can only be emitted if the buffered click survives into
    the second batch. A purchase outside the horizon and one for a
    different user must not match."""
    import datetime as dt
    import os

    from big_data_bowl_spark.streaming.windows import (
        click_purchase_join,
        run_to_memory,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def rows(specs):
        return spark.createDataFrame(
            [
                (eid, t0 + dt.timedelta(minutes=m), uid, et, val)
                for eid, m, uid, et, val in specs
            ],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double",
        )

    batch1 = rows([(1, 0, 7, "click", 0.0), (2, 0, 8, "click", 0.0)])
    batch2 = rows(
        [
            (3, 10, 7, "purchase", 9.5),   # matches click 1
            (4, 200, 8, "purchase", 1.0),  # outside the 2h horizon
            (5, 15, 9, "purchase", 2.0),   # no click for user 9
        ]
    )
    src = tmp_path / "ss_join"
    batch1.coalesce(1).write.parquet(str(src / "b1"))
    batch2.coalesce(1).write.parquet(str(src / "b2"))
    for i, sub in enumerate(["b1", "b2"]):
        for f in (src / sub).glob("*.parquet"):
            os.utime(f, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    def read():
        return (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )

    joined = click_purchase_join(
        read().filter(F.col("event_type") == "click"),
        read().filter(F.col("event_type") == "purchase"),
        horizon="2 hours",
    )
    run_to_memory(joined, "ss_join_sink", "append", n_partitions=4)
    got = [
        (r.click_id, r.purchase_id, r.user_id, r.purchase_value)
        for r in spark.table("ss_join_sink").collect()
    ]
    assert got == [(1, 3, 7, 9.5)]


def test_running_stats_matches_batch(spark, sf_dir):
    """t25's running_user_stats fold plus its max-n_events upsert must
    equal the exact batch per-user aggregate across micro-batches."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    got = {
        r.user_id: (r.n_events, r.n_high, r.last_ts)
        for r in REGISTRY["t25_stateful_running_stats"]
        .fn(spark, sf_dir)
        .collect()
    }
    want = {
        r.user_id: (r.n, r.nh, r.mx)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") > 5.0, 1).otherwise(0)).alias("nh"),
            F.max("ts").alias("mx"),
        )
        .collect()
    }
    assert got == want and got


def test_type_counts_matches_batch(spark, sf_dir):
    """t34's per_type_counts fold plus its max-n upsert must equal the
    batch GROUP BY (user_id, event_type)."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.sources.io import load_table
    from big_data_bowl_spark.streaming.stateful import per_type_counts
    from big_data_bowl_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
    )

    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "event_type"
    )
    run_to_memory(
        per_type_counts(stream), "type_counts", output_mode="append"
    )
    got = {
        (r.user_id, r.event_type): r.n
        for r in spark.table("type_counts")
        .groupBy("user_id", "event_type")
        .agg(F.max("n").alias("n"))
        .collect()
    }
    want = {
        (r.user_id, r.event_type): r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_recent_values_digest_matches_batch(spark, sf_dir):
    """A bounded per-user top-N recency buffer (array-valued state)
    must converge, across micro-batches, to the batch top-N over the
    whole input — with O(keep) state per key."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.sources.io import load_table
    from big_data_bowl_spark.streaming.stateful import recent_values_digest
    from big_data_bowl_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
    )

    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "value"
    )
    run_to_memory(
        recent_values_digest(stream, keep=5),
        "recent_digest",
        output_mode="append",
    )
    sink = spark.table("recent_digest")
    # upsert by n_seen: the events-seen counter is strictly increasing
    # across a key's emissions (post-cap, neither buffer size nor sum
    # is monotonic), so max-n_seen IS the final emission
    got = {
        (r.user_id): (r.n_buffered, r.sum_recent_cents)
        for r in sink.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_buffered", "sum_recent_cents"), "n_seen"
            ).alias("s")
        )
        .select("user_id", "s.*")
        .collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("value") * 100.0).cast("long").alias("cents"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_us"), F.desc("cents")
    )
    want = {
        r.user_id: (r.n, r.s)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
        )
        .collect()
    }
    assert got == want and got


def test_list_state_digest_across_microbatches(spark, tmp_path):
    """The recency buffer must fold across REAL micro-batch
    boundaries: a planted 3-file lake (forced processing order) where
    a user's top-5 window slides — later batches evict older buffered
    events — and the max-n_seen upsert must land on the final buffer,
    not an intermediate one whose sum happens to be larger."""
    import os
    from datetime import datetime

    from pyspark.sql import functions as F

    from big_data_bowl_spark.streaming.stateful import recent_values_digest
    from big_data_bowl_spark.streaming.windows import run_to_memory

    # user 1: batch 1 has 5 HIGH values (sum 50.00), batches 2-3 add
    # 5 newer LOW values (1 cent each) -> the final top-5-by-ts sum
    # (0.05) is SMALLER than the intermediate one (50.00), so a
    # max-by-sum upsert would pick the wrong emission
    def rows(batch, hours, val):
        return [
            (1, datetime(2024, 1, 1, h), float(val)) for h in hours
        ]

    batches = [
        rows(1, range(0, 5), 10.0),
        rows(2, range(5, 8), 0.01),
        rows(3, range(8, 10), 0.01),
    ]
    src = tmp_path / "lake"
    for i, data in enumerate(batches):
        df = spark.createDataFrame(
            data, "user_id long, ts timestamp, value double"
        )
        df.coalesce(1).write.parquet(str(src / f"b{i}"))
    for i in range(len(batches)):
        for f in (src / f"b{i}").glob("*.parquet"):
            os.utime(f, (1_000_000 + i * 1000,) * 2)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    run_to_memory(
        recent_values_digest(stream, keep=5),
        "recent_digest_split",
        output_mode="append",
    )
    sink = spark.table("recent_digest_split")
    emissions = {
        r.n_seen: (r.n_buffered, r.sum_recent_cents)
        for r in sink.filter(F.col("user_id") == 1).collect()
    }
    # three batches -> three emissions with strictly increasing n_seen
    assert set(emissions) == {5, 8, 10}
    assert emissions[5] == (5, 5000)     # five 10.00s buffered
    assert emissions[8] == (5, 2003)     # three 0.01s evicted two 10.00s
    assert emissions[10] == (5, 5)       # final: five 0.01s
    # and the upsert rule lands on the FINAL buffer, not the max sum
    final = (
        sink.groupBy("user_id")
        .agg(F.max_by(F.struct("n_buffered", "sum_recent_cents"),
                      "n_seen").alias("s"))
        .select("user_id", "s.*")
        .collect()[0]
    )
    assert (final.n_buffered, final.sum_recent_cents) == (5, 5)


def test_recent_values_digest_keeps_null_values(spark, tmp_path):
    """A NULL value stays in the recency buffer as NULL: it counts in
    n_buffered, orders after the non-NULL values of its ts (the batch
    desc order puts NULLs last) and is skipped by the sum, which is
    NULL when every buffered value is. Two planted micro-batches, so
    NULLs also round-trip through the state arrays; the final
    emission must equal the batch top-N."""
    import os
    from datetime import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_bowl_spark.streaming.stateful import recent_values_digest
    from big_data_bowl_spark.streaming.windows import run_to_memory

    def at(h):
        return datetime(2024, 1, 1, h)

    batches = [
        [(1, at(0), 5.0), (1, at(1), 7.0), (1, at(2), None),
         (1, at(2), 3.0), (2, at(0), None), (3, at(0), 1.25)],
        [(1, at(3), None), (2, at(1), None), (3, at(1), 2.5)],
    ]
    schema = "user_id long, ts timestamp, value double"
    src = tmp_path / "lake"
    for i, data in enumerate(batches):
        spark.createDataFrame(data, schema).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
        for f in (src / f"b{i}").glob("*.parquet"):
            os.utime(f, (1_000_000 + i * 1000,) * 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    run_to_memory(
        recent_values_digest(stream, keep=2),
        "recent_digest_nulls",
        output_mode="append",
    )
    got = {
        r.user_id: (r.n_buffered, r.sum_recent_cents)
        for r in spark.table("recent_digest_nulls")
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_buffered", "sum_recent_cents"), "n_seen"
            ).alias("s")
        )
        .select("user_id", "s.*")
        .collect()
    }
    ev = spark.createDataFrame(batches[0] + batches[1], schema).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100.0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_us"), F.desc("cents")
    )
    want = {
        r.user_id: (r.n, r.s)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .collect()
    }
    # user 1 keeps the NULL at 03:00 and the 3.00 that sorts ahead of
    # the NULL at 02:00; user 2's buffer is all NULL
    assert want == {1: (2, 300), 2: (2, None), 3: (2, 375)}
    assert got == want


def test_timer_sessions_close_on_watermark(spark, tmp_path):
    """Event-time timeouts: sessions close when the WATERMARK passes
    last_event + gap — emission on time passing, not on a closing
    event. Planted 2-file lake:
    user 1's first session (2 events) and user 2's only session must
    be closed by timeouts once the batch-2 watermark passes their
    expiries (fired in the trailing no-data micro-batch); user 1's
    final session (gap not yet elapsed) must stay open in state."""
    import os
    from datetime import datetime

    from big_data_bowl_spark.streaming.stateful import timer_closed_sessions
    from big_data_bowl_spark.streaming.windows import run_to_memory

    us = lambda h, m: (  # noqa: E731
        int(datetime(2024, 1, 1, h, m).timestamp() * 1_000_000)
    )
    b1 = [
        (1, datetime(2024, 1, 1, 0, 0)),
        (1, datetime(2024, 1, 1, 0, 10)),
        (2, datetime(2024, 1, 1, 0, 5)),
    ]
    b2 = [(1, datetime(2024, 1, 1, 5, 0))]
    src = tmp_path / "lake"
    for i, data in enumerate([b1, b2]):
        spark.createDataFrame(
            data, "user_id long, ts timestamp"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
        for f in (src / f"b{i}").glob("*.parquet"):
            os.utime(f, (1_000_000 + i * 1000,) * 2)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        .withWatermark("ts", "1 minute")
    )
    run_to_memory(
        timer_closed_sessions(stream, gap_minutes=60),
        "timer_sessions",
        output_mode="append",
    )
    got = {
        (r.user_id, r.session_start_us, r.session_last_us, r.n_events)
        for r in spark.table("timer_sessions").collect()
    }
    # closed: user 1's (00:00..00:10, 2 events) — timeout at 01:10,
    # watermark reaches 04:59; user 2's (00:05, 1 event) — timeout at
    # 01:05. Open (NOT emitted): user 1's 05:00 session — timeout at
    # 06:00 > final watermark.
    assert got == {
        (1, us(0, 0), us(0, 10), 2),
        (2, us(0, 5), us(0, 5), 1),
    }

