"""Distributed k-means (Lloyd's algorithm) over an array<double>
embedding column, and the one nearest-centroid kernel that every
centroid model in the package (k-means, the IVF coarse quantizer, the
PQ codebooks) is applied through.

The model is data, never generated code. `nearest_centroid` builds
the centroids into a one-row relation (an inline VALUES query of
exact `sql_dlit` literals holding array<struct<c, kk, kv>>, with
kk = kv.kv folded driver-side), reads it as an uncorrelated scalar
subquery, and picks each row's centroid with one higher-order
expression. The subquery collects its local relation on the driver
without a Spark job (a broadcast join would run one per model
application), the corpus never shuffles, and the generated code does
not grow with k or dim.

Contract, for every score:
- Every dot product is `sqltext.sql_dot`, the left-to-right
  zip_with/aggregate fold that equals DuckDB's `list_dot_product` and
  `pyfold_dot` bit for bit. A row whose length differs from the
  model's fails the query, as `list_dot_product` does; a NULL row
  scores NULL.
- Ties go to the lowest centroid id: argmin orders struct(score, c),
  argmax orders struct(score, -c, c). Spark orders NaN above every
  number, so a NaN score loses an argmin and wins an argmax.

Lloyd iteration: each step assigns with the `k.kk - 2 kv.cv` score,
then recomputes centroids as element-wise means in long (cell, dim)
form, whose partial aggregation combines map-side to k x dim rows per
task. The driver collects those k x dim means and feeds them to the
next step as the new model, the way spark.ml's KMeans keeps its
centers on the driver and moves only sufficient statistics.

Scale notes:
- Per-iteration cost: one corpus scan + one map-side-combined
  (cell, dim) aggregation; nothing data-sized shuffles.
- Convergence is detected on max centroid displacement, computed on
  the driver from the collected k x dim means.
- Empty cells keep their previous centroid (standard Lloyd fix).
- The corpus projection is localCheckpoint'd once so round n doesn't
  re-evaluate upstream lineage (same discipline as
  operators/components.py); a cluster deployment would persist or
  re-scan the lake instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import pyfold_dot, sql_darr, sql_dlit, sql_dot


def nearest_centroid(
    df: DataFrame, model_rows, score: str, out_name: str = "cell",
    largest: bool = False,
) -> DataFrame:
    """Add `out_name`: the id of the centroid whose `score` is lowest
    (highest with largest=True), ties to the lowest id.

    `model_rows` are (cid, kv) pairs. `score` is SQL over the lambda
    variable `k` (k.c the id, k.kv the vector, k.kk = kv.kv) and the
    columns of `df`; build its dots with sqltext.sql_dot."""
    if not model_rows:
        raise ValueError(
            "nearest_centroid: no centroid rows (an empty model has "
            "no nearest centroid)"
        )
    cents = ",".join(
        f"named_struct('c', {int(cid)}, "
        f"'kk', {sql_dlit(pyfold_dot(kv, kv))}, 'kv', {sql_darr(kv)})"
        for cid, kv in model_rows
    )
    model = f"(SELECT m FROM (VALUES (array({cents}))) AS t(m))"
    pick = (
        f"array_max(transform(__cents__, "
        f"k -> struct({score} AS s, -k.c AS nc, k.c AS c))).c"
        if largest
        else f"array_min(transform(__cents__, "
        f"k -> struct({score} AS s, k.c AS c))).c"
    )
    # Spark rejects a subquery inside a higher-order function, so the
    # model lands in a column first
    return (
        df.withColumn("__cents__", F.expr(model))
        .withColumn(out_name, F.expr(pick))
        .drop("__cents__")
    )


def assign_cells(
    corp: DataFrame, cent_rows, cv_name: str = "cv",
    out_name: str = "cell",
) -> DataFrame:
    """Lloyd assignment: argmin of the squared distance less the
    row's constant cv.cv term, kk - 2 cv.kv."""
    return nearest_centroid(
        corp, cent_rows, f"k.kk - 2.0 * {sql_dot(cv_name, 'k.kv')}",
        out_name,
    )


def seed_centroid_rows(corp: DataFrame, k: int) -> list:
    """Deterministic seeds: the k lowest-id vectors, renumbered
    0..k-1 in id order. A k-row driver collect — model
    initialization, the same metadata class as the per-round
    centroid state."""
    rows = corp.orderBy("vid").limit(k).collect()
    return [(i, [float(x) for x in r["cv"]]) for i, r in enumerate(rows)]


def step_stats(corp: DataFrame, cent_rows) -> DataFrame:
    """One Lloyd step's sufficient statistics: assign via
    assign_cells (a per-row computation with no corpus shuffle),
    then the (cell, dim) member counts and mean components. The groupBy
    partial-aggregates map-side, so the only exchange carries
    k x dim rows per task.

    Magnitude/precision envelope: the per-dim sum is
    decimal(38,18) by contract (merge-order determinism, below), so
    vector components must satisfy |v| < ~1e19 (sum incl.) — larger
    overflows the decimal (ANSI: error; non-ANSI: NULL mean) — and
    components below 1e-18 truncate to zero in the sum. Embedding
    corpora live many orders inside this box (unit-ish norms);
    callers with out-of-range features should rescale first."""
    assign = assign_cells(corp, cent_rows).select("cell", "cv")
    dims = assign.select(
        "cell", F.posexplode("cv").alias("dim_idx", "val")
    )
    # Decimal-cast the sum so the mean is independent of partition
    # merge order (exact integer-scaled addition commutes; a plain
    # double sum does not) — the same determinism contract as the
    # v05/v06 oracle path (_spark_lloyd_step). Without it, trainer
    # centroids — and therefore convergence round counts — could
    # vary run-to-run with task scheduling.
    return dims.groupBy("cell", "dim_idx").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("val").cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m"),
    )


def collect_step(corp: DataFrame, cent_rows) -> dict:
    """Run one step and collect its k x dim sufficient statistics:
    {cell: (n_members, [means by dim])}."""
    by_cell: dict = {}
    for r in step_stats(corp, cent_rows).collect():
        by_cell.setdefault(int(r["cell"]), {})[int(r["dim_idx"])] = (
            int(r["n"]),
            float(r["m"]),
        )
    return {
        cell: (
            dims[0][0],  # every member contributes one dim-0 row
            [dims[i][1] for i in range(len(dims))],
        )
        for cell, dims in by_cell.items()
    }


def kmeans_fit(
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 20,
    tol: float = 1e-6,
    on_round=None,
) -> DataFrame:
    """Run Lloyd's iterations until max centroid movement <= tol.

    Initial centroids are the k lowest-id vectors (deterministic).
    Returns DataFrame[cid, kv: array<double>, n_members].

    `on_round(i, n_stat_rows, max_move)` is an instrumentation hook
    called after each iteration's driver-side update with the number
    of sufficient-statistic rows that round collected (must stay at
    k x dim — the "corpus never shuffles, only k x dim crosses the
    network" claim) — used by tools/scale_probe.py --kmeans-fit to
    pin per-round wall/collect/heap at the 100x design point.

    Input envelope: per-round means go through
    step_stats' decimal(38,18) sums (merge-order determinism), so
    vector components must stay within |v| < ~1e19 and meaningful
    magnitude >= ~1e-18 — see the step_stats docstring for the
    stated contract; rescale out-of-range features before fitting.
    """
    vec = F.col(vec_col).cast("array<double>")
    corp = (
        corpus.select(F.col(id_col).alias("vid"), vec.alias("cv"))
        .where(F.col("cv").isNotNull())
        .localCheckpoint()  # scan input once, reuse every round
    )

    cent = seed_centroid_rows(corp, k)
    members = {cid: 0 for cid, _ in cent}
    for it in range(max_iter):
        stats = collect_step(corp, cent)
        new_cent, max_move = [], 0.0
        members = {}
        for cid, kv in cent:
            if cid in stats:
                n, means = stats[cid]
                max_move = max(
                    max_move,
                    max(abs(a - b) for a, b in zip(kv, means)),
                )
                new_cent.append((cid, means))
                members[cid] = n
            else:  # empty cell keeps its previous centroid
                new_cent.append((cid, kv))
                members[cid] = 0
        cent = new_cent
        if on_round is not None:
            on_round(
                it,
                sum(len(means) for _, means in stats.values()),
                max_move,
            )
        if max_move <= tol:
            break

    spark = corpus.sparkSession
    if not cent:
        raise ValueError(
            "kmeans_fit: no centroids (k=0 or empty corpus) — an "
            "empty VALUES clause would be malformed SQL, not an "
            "empty model"
        )
    vals = ",".join(
        f"({cid}, {sql_darr(kv)}, {members[cid]})" for cid, kv in cent
    )
    return spark.sql(
        f"SELECT CAST(cid AS INT) AS cid, kv, "
        f"CAST(n_members AS BIGINT) AS n_members "
        f"FROM (VALUES {vals}) AS t(cid, kv, n_members)"
    )
