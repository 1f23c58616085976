"""Registry plumbing + float-determinism helpers shared by all queries.

Float determinism policy
------------------------
The driver hash-compares values between Spark and DuckDB, so every
aggregate must be bit-reproducible, not merely "close":

- Sums of exact-2-decimal doubles (prices, balances, event values)
  are cast to DECIMAL before summing — decimal addition is exact and
  order-independent, then one cast back to double. Plain double sums
  depend on accumulation order and WILL differ across engines.
- Sums of integral doubles (l_quantity) are left native: integers
  < 2^53 sum exactly in double in any order.
- Averages are spelled exact_sum / count (double / bigint is one IEEE
  division — deterministic), never engine avg() over doubles.
- Transcendentals (sin/exp/atan) are rounded to 6-9 decimals: engines
  may differ in the last ulp.
- Anything "random" (samples, splits, MinHash) derives from md5,
  which both engines implement identically (functions/hashing.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import fan_out, load_table


@dataclass(frozen=True)
class Q:
    """A registered query: Spark fn + optional DuckDB oracle SQL.

    fn() is NOT guaranteed lazy: trainer-style queries (m10/m11/m13,
    n20, the k-means steps) and checkpointing pipelines (n18, the
    d02/d05 chains) run scans, collects, localCheckpoints and
    streaming drains INSIDE fn(). Time fn() and the action together;
    plan-audit tooling that needs a trainer's distributed plan uses
    the impl-level hooks (e.g. ml._bagged_ensemble_impl(on_ct=...))."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    note: str = ""


REGISTRY: dict[str, Q] = {}


def register(name: str, oracle: str | None = None, note: str = ""):
    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Q(fn=fn, oracle=oracle, note=note)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver-built local relation as a SINGLE-slice RDD.

    `createDataFrame(list, schema)` parallelizes to
    defaultParallelism slices, so every action on a model-sized
    trainer output (confusion rollups, merge tables, tree stats)
    would launch one task per slice. The 1-slice RDD takes the same
    row-verification and serialization path — same values, bit for
    bit — and one slice is the right layout for metadata-sized rows
    at any scale (.coalesce(1) instead waits on every parent slice's
    locality preference)."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def tf(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like t(), but fanned out across the cluster for CPU-heavy per-row
    pipelines. A small table scans as one split, which would pin all
    that per-row work to a single core; fan_out round-robins it to
    defaultParallelism partitions, and is a no-op once the scan itself
    carries enough splits (always true at scale).

    Measured guidance (sf0.1 A/B): the extra shuffle only pays for
    itself when per-row work truly dominates — the shingle->md5->minhash
    pipelines (d02/d03) and the rolling-hash fold (n07). Cheap regex
    projections and payload-carrying media tables run FASTER on the raw
    scan partitioning at bench scale, so they stay on t()."""
    return fan_out(load_table(spark, sf_dir, name))


def dsum(col: Column, scale: int = 2, precision: int = 28) -> Column:
    """Exact (order-independent) sum of a fixed-decimal double column."""
    return F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")


def dsum_sql(expr: str, scale: int = 2, precision: int = 28) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL({precision},{scale}))) AS DOUBLE)"


from ..functions.rounding import rhu  # noqa: F401  (re-export for queries)


def rhu_sql(expr: str, scale: int = 9) -> str:
    """DuckDB spelling of functions.rounding.rhu — keep in lockstep."""
    p = 10.0**scale
    return f"floor(({expr}) * {p!r} + 0.5) / {p!r}"


def scratch_dir() -> str:
    """The repo-root .scratch sink directory (git-ignored), created on
    first use — the one path derivation every sink query shares."""
    import os

    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
        ".scratch",
    )
    os.makedirs(scratch, exist_ok=True)
    return scratch


def data_fingerprint(sf_dir: str, table: str) -> tuple:
    """(path, per-file (size, mtime_ns)) fingerprint of a testdata
    table, the data part of a ModelMemo key: regenerating the data at
    the same path changes the key, so a trained value is never served
    for data it was not trained on. Handles both single-file
    `<table>.parquet` and directory layouts."""
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            parts = [
                os.path.join(path, f)
                for f in sorted(os.listdir(path))
                if not f.startswith((".", "_"))
            ]
        else:
            parts = [path]
        sig = tuple(
            (os.path.getsize(p), os.stat(p).st_mtime_ns) for p in parts
        )
    except OSError:
        sig = ()
    return (path, sig)


class ModelMemo:
    """Trained model values (thresholds, centroids, a fitted forest)
    shared by the queries of one Spark application. The key is
    (application id, data_fingerprint of the training table, the
    training constants that shape the value); a miss under a new
    application drops the old one's entries. Store plain values only,
    never a DataFrame: its plan dies with its session."""

    def __init__(self) -> None:
        self._values: dict = {}

    def get(self, spark: SparkSession, sf_dir: str, table: str,
            consts: tuple, train: Callable[[], object]):
        app = spark.sparkContext.applicationId
        key = (app, data_fingerprint(sf_dir, table), consts)
        if key not in self._values:
            self._values = {
                k: v for k, v in self._values.items() if k[0] == app
            }
            self._values[key] = train()
        return self._values[key]

    def clear(self) -> None:
        self._values.clear()

    def __len__(self) -> int:
        return len(self._values)
