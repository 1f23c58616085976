"""Sources: scans over the star-schema parquet + the reference's scan shapes.

Reference scan inventory (SURVEY.md §2.1):
- S1  CSV scan with schema inference  (Tutorial.R:11-13)
- S2  multi-file CSV scan + union     (Tutorial.R:15-20) — Spark reads the
      whole list in ONE scan (no driver-side loop, unlike the reference's
      17-iteration rbind which forces everything through one process).
- S3  TSV scan                        (Field Control.R:109-113)
- S4  generated grid table            (Field Control.R:324-327)

At 100 TB the fact tables are parquet (columnar, predicate/column
pushdown at the row-group level); the CSV path exists for reference
parity only.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events.ts column to a session-TZ TimestampType.

    The loader contract is: downstream operators (unix_micros windows,
    as-of joins, streaming watermarks) always see ``ts: timestamp``,
    whatever physical form the lake stores. Handled encodings:

    - int64 nanos (TIMESTAMP(NANOS) parquet scanned with
      spark.sql.legacy.parquet.nanosAsLong): `div 1000` to micros.
      `div` truncates TOWARD ZERO, and so does DuckDB's
      TIMESTAMP_NS -> TIMESTAMP cast — verified empirically against
      a real ns parquet including pre-epoch values (-1500 ns -> -1
      us in BOTH engines; a floor division would give -2 and
      diverge). Review r7 suspected the opposite; the probe in
      tests/test_schema_canary.py pins the agreement.
    - TIMESTAMP_NTZ (naive timestamp[us] parquet, the current testdata):
      cast to TIMESTAMP. The session time zone is pinned to UTC
      (session.py), so the cast relabels the same micros value —
      bit-exact vs DuckDB's naive timestamps.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one star-schema table (TESTDATA.md layout).

    events.ts is normalized to TimestampType at this boundary (see
    normalize_event_ts) so no per-query code ever branches on the
    lake's physical timestamp encoding.
    """
    if name == "events":
        # Runtime-settable, so the contract works with ANY caller-provided
        # SparkSession (the driver builds its own), not just get_spark().
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ... and the same altitude for the timezone pin: the NTZ ->
        # timestamp cast in normalize_event_ts relabels micros ONLY
        # under UTC; a bare session on a non-UTC host would shift
        # every event time off the DuckDB oracle (review r7 — latent
        # here because this host is UTC, but the loader contract
        # must not depend on host TZ)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Redistribute an under-partitioned scan before CPU-heavy per-row work.

    A small parquet file scans as ONE input split, so a per-row-expensive
    pipeline downstream (shingle+md5 minhash, embedding folds, mapInPandas
    codecs) would run on a single core no matter how wide the cluster is.
    This redistributes the rows across `defaultParallelism` partitions ONLY
    when the scan has fewer — at 100 TB the scan already carries >= that
    many splits and this is a no-op (no shuffle inserted). The guard is a
    plan-only inspection (no job runs).

    With `keys`, the redistribution hash-partitions on those columns
    instead of round-robin: a keyless repartition(n) first pays a local
    SORT of its input (spark.sql.execution.sortBeforeRepartition, on by
    default since SPARK-23207 so task retries reproduce the same
    row-to-partition assignment — guide §2.5); hashing a
    high-cardinality key needs no such sort and is retry-deterministic
    by construction (measured r17: the m11 contingency scan ran 1.18 s
    round-robin vs 0.66 s hash-keyed at sf0.1). Callers pass a key
    whose cardinality is >> defaultParallelism (a row id) so the hash
    spreads evenly; keyless round-robin stays the fallback for inputs
    with no such column.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *keys) if keys else df.repartition(target)
    return df


def shuffle_partition_target(spark: SparkSession) -> int:
    """Partition count for explicit repartition pins (the
    AQE-coalescing fences in e2_control/fuzzy/grid-join): the count a
    coalescible exchange would START from. That is AQE's
    `coalescePartitions.initialPartitionNum` when it is set and both
    `spark.sql.adaptive.enabled` and `coalescePartitions.enabled` are
    on (otherwise Spark ignores it), else `spark.sql.shuffle.partitions`.
    Cluster-tuned at scale, never a local constant. A configured count
    <= 0 raises ValueError."""
    conf = spark.conf
    aqe = all(
        conf.get(f"spark.sql.adaptive.{k}enabled").strip().lower() == "true"
        for k in ("", "coalescePartitions.")
    )
    v = conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", None
    )
    n = int(v if aqe and v is not None else
            conf.get("spark.sql.shuffle.partitions"))
    if n <= 0:
        raise ValueError(f"shuffle partition target must be > 0, got {n}")
    return n


def load_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All star-schema tables as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in STAR_TABLES}


def read_csv_inferred(
    spark: SparkSession, paths: str | list[str], sep: str = ","
) -> DataFrame:
    """S1/S2/S3: (multi-)file delimited scan with header + inferred schema.

    Mirrors the reference's read.csv / read_csv(col_types=cols()) /
    read_tsv behavior (Tutorial.R:11-20, Field Control.R:109-113). A
    list of paths becomes one distributed scan — the Spark-first
    replacement for the reference's sequential union loop.
    """
    return (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .option("sep", sep)
        .csv(paths)
    )


def fetch_remote_delimited(
    spark: SparkSession, url: str, sep: str = ","
) -> DataFrame:
    """S3's remote half: read a delimited table from a URL
    (Field Control.R:109-113 reads a TSV over https).

    The driver fetches the URL (urllib: https/http/file), parses with
    pandas (type inference matching read_csv), and ships rows via
    createDataFrame. Driver-side on purpose, and cluster-correct:
    executors never need access to a driver-local temp file (a
    `spark.read` over a fetched local path only works when every node
    sees the same filesystem), and anything retrievable in one HTTP
    request is by definition dim-table-sized. Big remote data belongs
    in distributed storage (S3/HDFS/...) read by `spark.read` directly.
    """
    import io as _io
    from urllib.request import urlopen

    import pandas as pd

    with urlopen(url) as resp:  # noqa: S310 — caller controls the URL
        raw = resp.read()
    pdf = pd.read_csv(_io.BytesIO(raw), sep=sep)
    return spark.createDataFrame(pdf)


def field_grid(
    spark: SparkSession,
    x_max: float = 120.0,
    y_max: float = 160.0 / 3.0,
    nx: int | None = None,
    ny: int | None = None,
) -> DataFrame:
    """S4: generated field grid (Field Control.R:322-327, Tutorial.R:66).

    Reproduces R's expand_grid(x = seq(0, 120, length.out = 120),
    y = seq(0, 160/3, length.out = 160/3)): `length.out` is the POINT
    COUNT (R ceils a fractional length.out, so 160/3 -> 54 points),
    with inclusive endpoints and spacing max/(n-1) — linspace, not an
    integer-step grid. Built as a crossJoin of two generated ranges;
    the grid is tiny (~6.5k rows) — always broadcast it into the
    player x grid cross join (SURVEY.md J5).
    """
    nx = nx if nx is not None else int(x_max)
    ny = ny if ny is not None else math.ceil(y_max)
    # n == 1 degenerates to the single point 0, matching R's
    # seq(length.out = 1) — max/(n-1) would divide by zero (review r7)
    xs = spark.range(nx).select(
        (F.col("id") * F.lit(x_max / (nx - 1) if nx > 1 else 0.0)).alias(
            "grid_x"
        )
    )
    ys = spark.range(ny).select(
        (F.col("id") * F.lit(y_max / (ny - 1) if ny > 1 else 0.0)).alias(
            "grid_y"
        )
    )
    return xs.crossJoin(ys)
