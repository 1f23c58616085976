"""Structured Streaming operators over the events stream.

Design (SURVEY.md §2.11): the batch queries in queries/temporal.py
define the semantics and carry the DuckDB oracles; these functions run
the SAME aggregation expressions as an incremental streaming query —
``readStream`` -> watermark -> windowed agg -> sink. Batch/stream
parity is asserted in tests/test_streaming.py by replaying the events
parquet with an availableNow trigger and diffing against the batch
result.

Scale notes:
- The watermark bounds state: closed windows are evicted, so state is
  O(open windows x keys), independent of stream length.
- ``availableNow`` processes the backlog in bounded batches and
  terminates — the cluster-friendly way to run a streaming query over
  a static lake for backfills.
- Streaming dedup keeps one state row per key within the watermark
  horizon — the streaming face of the d01 exact-dedup operator.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (the lake-backfill
    shape: same code path as a live Kafka/file feed).

    The file source requires an explicit schema; a hardcoded one rots
    the moment the lake's physical timestamp encoding changes (round 4:
    the testdata moved from TIMESTAMP(NANOS) to naive timestamp[us] and
    a LongType schema silently dropped every row — wrong answers, not a
    crash). So the schema comes from a metadata-only batch read of the
    same file, and ts is normalized through the SAME boundary helper as
    the batch loader (sources/io.py normalize_event_ts), keeping
    streaming results comparable to the batch oracles by construction.
    """
    from ..sources.io import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # io.py contract
    # footer-only read: resolves the schema as actually stored, no scan
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file source requires a DIRECTORY. Two physical layouts exist:
    # the driver testdata's single FILE `events.parquet` (stream the
    # parent dir with a glob selecting that file) and a real lake's
    # DIRECTORY `events.parquet/part-*.parquet` (stream the directory
    # itself — a glob on the parent would match the directory name but
    # never its part files, silently yielding 0 rows; the 10x probe
    # lake caught exactly that in round 9). The probe goes through the
    # Hadoop FileSystem API, not os.path (ADVICE r9): os.path.isdir is
    # always False for non-local URIs (s3a://, hdfs://), which would
    # silently route a remote directory-layout lake down the glob
    # branch — the exact 0-row failure mode, just moved to remote
    # storage. Path.getFileSystem resolves the right FS for ANY scheme
    # and also turns a missing path into a loud error here, at the
    # source, instead of an empty stream.
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if hadoop_is_dir(spark, path):
        raw = reader.parquet(path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(
            sf_dir
        )
    return normalize_event_ts(raw)


def hadoop_is_dir(spark: SparkSession, path: str) -> bool:
    """True iff `path` is a directory on ITS OWN filesystem — local,
    HDFS, or an object store — resolved via Hadoop's FileSystem API
    (the same resolution Spark's own readers use), so scheme'd URIs
    answer correctly where os.path.isdir would always say False.
    Raises FileNotFoundError if the path does not exist at all: a
    missing source must fail loudly, never degrade to an empty
    stream."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        raise FileNotFoundError(f"stream source does not exist: {path}")
    return fs.getFileStatus(jpath).isDirectory()


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window x event_type with late-data bound —
    the streaming twin of t01_tumbling_window (same expressions).

    The watermark lets the engine finalize and evict a window once
    event time passes window_end + watermark; without it, state grows
    forever on an unbounded stream.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    within_watermark: bool = False,
) -> DataFrame:
    """Exact dedup on a stream: first arrival per key wins (the
    streaming face of d01).

    State honesty (review r7): plain ``dropDuplicates`` on keys that
    EXCLUDE the event-time column keeps one state row per distinct
    key FOREVER — the watermark only evicts dedup state when the
    event-time column is part of the key. That unbounded growth is
    inherent to the global-dedup semantics, not a bug, but on a live
    unbounded stream you almost always want
    ``within_watermark=True``: ``dropDuplicatesWithinWatermark``
    guarantees dedup only for duplicates arriving within the
    watermark delay of each other and evicts state past it — bounded
    state, the production trade (retries/replays cluster in time).
    The default stays exact global dedup, which every bounded
    backfill (and the t11 oracle) wants.
    """
    keys = keys or ["event_id"]
    wm = events.withWatermark("ts", watermark)
    if within_watermark:
        return wm.dropDuplicatesWithinWatermark(keys)
    return wm.dropDuplicates(keys)


@contextmanager
def batch_shuffle_partitions(spark, n_partitions: int | None = None):
    """Size the micro-batch shuffles to the machine, not the global
    default, for the duration of one bounded streaming drain: a
    caller session with shuffle.partitions=200 (the Spark default —
    e.g. the driver's bare session) would run EVERY micro-batch's
    stateful shuffle as 200 tiny tasks (measured 27s vs ~5s for the
    availableNow backfill at sf0.01). The stream's state store
    partitioning is fixed at its first checkpoint, and each query
    here starts from a fresh temp checkpoint, so setting it just for
    the run is safe; the caller's conf is restored after.
    n_partitions overrides for queries whose per-batch state work is
    dominated by task-launch overhead (e.g. the stream-stream join
    keeps state for BOTH sides in every partition — fewer, larger
    state partitions drain a bounded backlog faster). Shared by
    run_to_memory and sinks.run_to_merge_snapshot.
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(
        key,
        n_partitions or max(8, spark.sparkContext.defaultParallelism),
    )
    try:
        yield
    finally:
        spark.conf.set(key, old)


# Final-batch state-store metrics of every drain this process ran:
# (sink_name, [stateOperators dicts]) appended by run_to_memory /
# sinks.run_to_merge_snapshot. numRowsTotal/memoryUsedBytes at drain
# end are the MEASURED size of what the watermark left alive — the
# number the "state is O(keys/open windows), not O(stream)" claims
# rest on. Read by tools/state_metrics.py and the pin test
# (tests/test_streaming.py::test_streaming_state_is_key_bounded);
# bounded: callers drain a handful of queries per process.
LAST_STATE_METRICS: list = []

# Per-micro-batch EXECUTED PLANS of every drain this process ran:
# (sink_name, {batch_id: jvm SparkPlan}, n_batches) appended
# alongside LAST_STATE_METRICS. tools/shuffle_metrics.py --streaming
# walks these with the same SQLMetrics harvest as the batch audit,
# so streaming exchanges get byte-WEIGHED, not just state-counted
# (VERDICT r13 item 4). MicroBatchExecution keeps only
# lastExecution — which for stateful availableNow drains is the
# EMPTY watermark-commit batch, hiding the work batch's exchanges —
# so _await_capturing_plans polls during the drain and pins each
# batch's IncrementalExecution via its Py4J proxy before the next
# batch replaces it. n_batches (from recentProgress) is recorded so
# the tool can flag a drain whose captured plans miss a batch.
LAST_EXEC_PLANS: list = []

# Plan capture is OPT-IN (ADVICE r14): the 10 ms poll and the
# per-batch JVM plan pinning only pay off when an audit reads the
# plans, so the audit tools (tools/plan_audit.py,
# tools/shuffle_metrics.py --streaming) and the all-batch-capture
# pin test set this True around their drains; every other session —
# the oracle gate, perfbench, plain queries — drains with a bare
# awaitTermination() and pins nothing.
CAPTURE_EXEC_PLANS: bool = False

# Backstop within one capturing drain (ADVICE r14): each pinned plan
# is a whole executed-plan graph, so a capturing drain with a huge
# availableNow backlog must not grow JVM heap O(n_batches). Batches
# past the cap are dropped lowest-first (the final watermark-commit
# batch is always the post-termination grab, so it survives); the
# audit's missed-batch flag (len(plans) < n_batches) fires on the
# gap — a capped drain reads as "not fully weighed", never as full
# coverage. In-repo capturing drains run 1-4 batches, far under.
_MAX_PINNED_PLANS_PER_DRAIN = 64


def _await_capturing_plans(q) -> dict:
    """awaitTermination(), with a capture loop when
    CAPTURE_EXEC_PLANS is set: poll the running drain's
    lastExecution and keep one executed-plan reference per
    micro-batch (the proxy pins the JVM object, so its final
    SQLMetrics stay readable after the drain).

    Capture guarantee: batch N's IncrementalExecution stays exposed
    from the start of batch N until batch N+1 begins PLANNING, so a
    batch is missed only if it plans+runs+hands-over inside one
    10 ms poll — work batches at audit scale run hundreds of ms, and
    the FINAL batch (the stateful watermark-commit batch) is always
    captured by the post-termination grab. A miss is not silent
    either way: the audit compares len(plans) to the drain's batch
    count and flags (tools/plan_audit.py streaming section)."""
    import time as _time

    if not CAPTURE_EXEC_PLANS:
        q.awaitTermination()
        return {}

    plans: dict = {}

    def grab():
        try:
            le = q._jsq.streamingQuery().lastExecution()
            if le is not None:
                plans[int(le.currentBatchId())] = le.executedPlan()
        except Exception:
            pass
        while len(plans) > _MAX_PINNED_PLANS_PER_DRAIN:
            del plans[min(plans)]

    while q.isActive:
        grab()
        _time.sleep(0.01)
    q.awaitTermination()
    grab()
    return plans


# How many drains keep their plan references pinned: each entry
# holds Py4J proxies to whole executed-plan graphs, so a LONG-LIVED
# session (a notebook, a repeated test loop — anything draining more
# than the window) must not grow JVM heap without bound. Entries
# older than the window keep their (sink, n_batches) row — index
# stability for concurrent readers — but drop the plan refs. The
# known in-repo consumers sit under the window by design: the
# 256-query gate drains 16 streams, and plan_audit's sweep harvests
# its ~16 drains' tuples into its own report-scoped dict (those
# references intentionally outlive a trim; the audit process exits
# right after).
_MAX_PINNED_PLAN_DRAINS = 32


def _capture_state_metrics(q, sink_name: str, plans=None) -> None:
    prog = q.lastProgress or {}
    LAST_STATE_METRICS.append(
        (sink_name, prog.get("stateOperators", []) or [])
    )
    # n_batches from the last batchId + 1 (batch ids start at 0 on
    # the fresh checkpoints every drain here uses), NOT from
    # len(recentProgress): recentProgress is capped (default 100
    # entries), so a long drain would under-report its batch count
    # and defeat the missed-batch flag. No fallback: if no progress
    # event exists at all, the honest count is 0.
    n_batches = max(0, int(prog.get("batchId", -1)) + 1)
    LAST_EXEC_PLANS.append((sink_name, plans or {}, n_batches))
    for i in range(len(LAST_EXEC_PLANS) - _MAX_PINNED_PLAN_DRAINS):
        sink, old_plans, nb = LAST_EXEC_PLANS[i]
        if old_plans:
            LAST_EXEC_PLANS[i] = (sink, {}, nb)


def run_to_memory(
    stream_df: DataFrame,
    table_name: str,
    output_mode: str = "append",
    n_partitions: int | None = None,
) -> None:
    """Drain a bounded stream into an in-memory sink (test/demo only;
    production sinks are parquet/Delta/Kafka via the same API).

    Uses trigger(availableNow=True): processes everything currently in
    the source in rate-limited batches, then stops.
    """
    with batch_shuffle_partitions(stream_df.sparkSession, n_partitions):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        plans = _await_capturing_plans(q)
        _capture_state_metrics(q, table_name, plans)

def sliding_sums(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding event-time window — the streaming twin of
    t02_sliding_window (same expressions).

    Each event expands to window/slide (= 2) open buckets before the
    hash aggregation; watermarked state holds only windows whose end
    is within the late-data horizon, so state is O(open windows), not
    O(stream length).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )

def click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM inner join: each click pairs with every purchase
    by the same user within [click_ts, click_ts + horizon].

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions, so the state store can evict: a buffered
    click older than (max event time - watermark - horizon) can never
    match a future purchase and is dropped; same for purchases. This
    bounded-state contract is what distinguishes a production
    stream-stream join from an unbounded buffer.
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"interval {horizon}")
        ),
    ).select(
        "click_id",
        "user_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def windowed_histogram(
    events: DataFrame,
    window: str = "6 hours",
    watermark: str = "2 hours",
    lo: float | None = None,
    hi: float | None = None,
    nbins: int | None = None,
) -> DataFrame:
    """Streaming grouped fixed-width histogram: the incremental twin of
    operators/histogram.py grouped_histogram, keyed on (event-time
    window, event_type, bin). The live distribution monitor of a
    training-data feed — drift in a feature's histogram is the
    canonical data-quality trigger (dq03's streaming face).

    State is one count per (window, group, bin) — bounded by
    n_windows_in_watermark x groups x nbins regardless of input rate;
    the watermark evicts finalized windows.
    """
    from ..operators.histogram import (
        HIST_HI,
        HIST_LO,
        HIST_NBINS,
        bin_exprs,
    )

    lo = HIST_LO if lo is None else lo
    hi = HIST_HI if hi is None else hi
    nbins = HIST_NBINS if nbins is None else nbins
    keep, bin_idx, bin_bounds = bin_exprs(F.col("value"), lo, hi, nbins)
    bin_lo, bin_hi = bin_bounds(F.col("bin_idx"))
    return (
        events.withWatermark("ts", watermark)
        .filter(keep)
        .groupBy(
            F.window("ts", window).alias("w"),
            F.col("event_type").alias("grp"),
            bin_idx.alias("bin_idx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "grp",
            "bin_idx",
            bin_lo.alias("bin_lo"),
            bin_hi.alias("bin_hi"),
            "n",
        )
    )
