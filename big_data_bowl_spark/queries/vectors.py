"""Similarity search over the `embeddings` table (array<float> column).

North-star extension (BASELINE.md): approximate-nearest-neighbor
building blocks — brute-force cosine top-k as the exact baseline, a
sign-random-projection (SRP) LSH bucketing as the scale path, and
bucketed cosine near-dup pairs.

Everything stays JVM-side: dot products are `zip_with` + sequential
`aggregate` folds over array<double> (bit-identical to DuckDB's
list_dot_product, verified), so the oracles compare EXACT values — no
rounding, no Python UDFs.

Scale notes (the 100 TB story):
- v01 brute force is one broadcast of the (tiny) query set against a
  scan of the corpus — O(corpus) work, no shuffle of the embeddings;
  the top-k per query is a TakeOrdered-style window on a small result.
- v02/v03: SRP buckets turn all-pairs O(n^2) into O(sum bucket^2);
  the hyperplane signs are CONSTANTS (md5-derived in Python at plan
  build), so bucketing is a narrow projection — zero joins, zero
  Python at runtime.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..functions.banding import (
    bucket_pairs,
    drop_oversized_buckets,
    oversized_buckets,
)
from .base import register, t

EMBED_DIM = 64
N_PLANES = 8
TOPK = 10
NEARDUP_COS = 0.4  # calibrated: driver embeddings max pairwise cos ≈ 0.51


def _srp_weights() -> list[list[float]]:
    """±1 hyperplane weights, a pure function of (plane, dim) via md5.

    Computed driver-side with hashlib (identical to any engine's md5);
    embedded as literals so runtime cost is a plain dot product.
    """
    planes = []
    for p in range(N_PLANES):
        row = []
        for d in range(EMBED_DIM):
            h = hashlib.md5(f"{p}|{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 1 else -1.0)
        planes.append(row)
    return planes


SRP = _srp_weights()


def _dot(a, b):
    """Sequential-fold dot product: bit-identical to list_dot_product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sql_vec(col: str) -> str:
    return f"CAST({col} AS DOUBLE[])"


def _sql_lit_vec(w: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in w) + "]"


def _cosine(va, vb):
    return _dot(va, vb) / (F.sqrt(_dot(va, va)) * F.sqrt(_dot(vb, vb)))


_SQL_COS = (
    "list_dot_product(qe, ce) / "
    "(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)))"
)


@register(
    "v01_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, {_sql_vec('embedding')} AS qe
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cand_id, {_sql_vec('embedding')} AS ce
               FROM embeddings),
         s AS (SELECT query_id, cand_id, {_SQL_COS} AS cosine
               FROM q CROSS JOIN c WHERE query_id <> cand_id),
         r AS (SELECT query_id, cand_id, cosine,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, cand_id ASC)
                        AS rn
               FROM s)
    SELECT query_id, cand_id, cosine, rn FROM r WHERE rn <= {TOPK}
    """,
    note="Brute-force cosine top-k: broadcast the query set, one corpus "
    "scan, exact values (fold dot product == DuckDB list_dot_product "
    "bit-for-bit), deterministic rank tie-break on cand_id",
)
def v01_cosine_topk(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings")
    # norms are per-VECTOR, so compute them once on each input (one
    # fold per vector) instead of inside the pair scoring (which would
    # fold 3 arrays per PAIR); cosine = dot/(qn*cn) is bit-identical
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    ).withColumn("qn", F.sqrt(_dot(F.col("qe"), F.col("qe"))))
    c = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    ).withColumn("cn", F.sqrt(_dot(F.col("ce"), F.col("ce"))))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            (
                _dot(F.col("qe"), F.col("ce"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select("query_id", "cand_id", "cosine", "rn")
    )


def _bucket_expr(vec_sql: str = "CAST(embedding AS ARRAY<DOUBLE>)"):
    """SRP bucket id in [0, 2^N_PLANES): bit p = sign of plane-p dot.

    ONE F.expr parse over SQL text, not a Column tree (r15): the old
    spelling built 8 planes x 64 F.lit Py4J columns PER CALL — pure
    plan-build cost on every v02/v03/v08/e05 invocation (the
    m13/VALUES-SQL precedent: Column-API literal trees measured
    0.7-1.8 s of driver-side build). The SQL fold (sqltext.
    sql_fold_dot) is the identical aggregate(zip_with) expression the
    Column spelling parsed to, so every bucket bit — and the DuckDB
    oracle match — is unchanged bit-for-bit. Takes the vector's SQL
    text instead of a Column for the same reason."""
    from ..functions.sqltext import sql_darr, sql_fold_dot

    bits = " + ".join(
        f"(CASE WHEN {sql_fold_dot(vec_sql, sql_darr(SRP[p]))} > 0.0D "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    return F.expr(f"({bits})")


def _sql_bucket(vec_col: str) -> str:
    bits = " + ".join(
        f"(CASE WHEN list_dot_product({vec_col}, {_sql_lit_vec(SRP[p])}) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    return f"({bits})"


@register(
    "v02_srp_lsh_buckets",
    oracle=f"""
    WITH c AS (SELECT vec_id, {_sql_vec('embedding')} AS ce FROM embeddings)
    SELECT vec_id, {_sql_bucket('ce')} AS bucket FROM c
    """,
    note=f"SRP-LSH bucketing: {N_PLANES} md5-derived constant "
    "hyperplanes, bucket = sign bits of the projections. Narrow "
    "projection, no shuffle — the ANN pre-filter that makes near-dup "
    "search O(sum bucket^2) instead of O(n^2)",
)
def v02_srp_lsh_buckets(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings")
    return e.select("vec_id", _bucket_expr().alias("bucket"))


@register(
    "v03_bucketed_cosine_neardup",
    oracle=f"""
    WITH c AS (SELECT vec_id, {_sql_vec('embedding')} AS v,
                      {_sql_bucket(_sql_vec('embedding'))} AS bucket
               FROM embeddings),
         p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                      list_dot_product(a.v, b.v)
                      / (sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(b.v, b.v))) AS cosine
               FROM c a JOIN c b
                 ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= {NEARDUP_COS!r}
    """,
    note="Embedding-cosine near-dup pairs WITHIN SRP buckets only — "
    "bucket-local pair emission from one groupBy on the bucket id "
    "keeps the pair space O(sum bucket^2); "
    "exact cosine re-scoring inside each bucket",
)
def v03_bucketed_neardup(spark: SparkSession, sf_dir: str):
    return _srp_pairs(_srp_withb(t(spark, sf_dir, "embeddings")))


def _srp_withb(e):
    """(vec_id, v, bucket, nrm) from an embeddings-schema DataFrame —
    the SRP projection pipeline v03/v08/e05 share. Per-vector norm is
    computed ONCE (one array fold per vector, not three per pair);
    cosine = dot/(na*nb) stays bit-identical."""
    vec = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id", vec.alias("v"), _bucket_expr().alias("bucket")
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))


def _srp_pairs(withb, max_bucket: int | None = None):
    """Bucket-local near-dup pairs from the (vec_id, v, bucket, nrm)
    rows, via `banding.bucket_pairs` on the SRP bucket (its docstring
    states the emission and `max_bucket` cap policy; audit a cap with
    `banding.oversized_buckets(withb, ("bucket",), cap)` — v03b is the
    registered capped spelling).

    ONLY IDS ride the quadratic path (found by the e05 100x probe
    OOMing an 8 GB heap): the bucket groupBy collects vec_ids alone
    (6 KB of state for an 800-member bucket, not 800 x 64 doubles),
    the per-row remainder slice copies 8-byte longs, not 520-byte
    structs (the struct spelling churned ~42 GB of transient copies
    at 100x), and the vectors+norms attach via two shuffled-hash
    joins for scoring (exchange weights documented at the hint
    below). The SRP projection pipeline evaluates once for bucketing;
    the two scoring joins re-scan only the (vec_id, v, nrm)
    projection — linear, scan-side, no SRP work.

    The pair dot is the COMPILED column-column chain
    (sqltext.sql_dot_cols — bit-identical fold sequence, whole-stage
    codegen): the interpreted zip_with fold paid per-element lambda
    dispatch on every one of O(sum bucket^2) pairs — measured 367 s
    for 10.1M pairs at 100x vs 23 s compiled. Norms stay the linear
    scan-side fold. A vector lands in exactly one bucket, so pairs
    are already distinct."""
    # capped here, not inside bucket_pairs, so the scoring sides below
    # read the same capped rows as the pairs (one shared subtree)
    if max_bucket is not None:
        withb = drop_oversized_buckets(withb, ("bucket",), max_bucket)
    pairs = bucket_pairs(withb, ("bucket",), "vec_id").select(
        F.col("a").alias("vec_a"), F.col("b").alias("vec_b")
    )
    side_a = withb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    side_b = withb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    from ..functions.sqltext import sql_dot_cols, sql_fold_dot

    # compiled flat chain on the standard EMBED_DIM corpus, the
    # interpreted fold on any other dim — the guard keeps the OLD
    # any-dim contract (planted test corpora use dim 16) while the
    # hot path runs codegen'd; on 64-dim rows chain == fold
    # bit-for-bit (sql_dot_cols contract), so the branch never
    # changes a value, only its evaluation speed
    dot = (
        f"IF(size(va) = {EMBED_DIM} AND size(vb) = {EMBED_DIM}, "
        f"{sql_dot_cols('va', 'vb', EMBED_DIM)}, "
        f"{sql_fold_dot('va', 'vb')})"
    )
    cos = F.expr(dot) / (F.col("na") * F.col("nb"))
    # shuffle_hash, hinted on the CORPUS sides: Catalyst sizes the
    # pair side from its 256-row bucket parent (Generate does not
    # multiply size estimates), so left alone it BROADCASTS the
    # 10M-row pair side at 100x and builds a multi-GB driver hash
    # table (measured: notEnoughMemoryToBuildAndBroadcastTableError
    # at 8 GB). The hint makes each scoring join a shuffled hash
    # join with the corpus as build side — per-task hash state is
    # corpus/N_partitions rows (bounded, scales with the cluster),
    # pair rows stream as probe, nothing is driver-resident.
    # Measured exchange weights (tools/shuffle_metrics, sf0.1): the
    # corpus sides at ~404 B/row (corpus-linear, scan-equivalent;
    # one of the two is a ReusedExchange), and the pairs-with-va
    # rows between the joins at ~366 B/row — ONE vector rides the
    # candidate-sized exchange, the deliberate, disk-backed price
    # for keeping every in-MEMORY structure bounded (the bucket-
    # struct alternative held bucket x dim doubles resident per
    # reducer and OOM'd the 100x probe). Adjudicated in
    # tools/plan_audit.WEIGHT_ALLOWED; a bucketed lake (the s06
    # layout) makes both joins shuffle-free at deployment scale.
    return (
        pairs.join(side_a.hint("shuffle_hash"), "vec_a")
        .join(side_b.hint("shuffle_hash"), "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_COS)
    )


# Gate-tuned so the cap BITES PARTIALLY on the real SRP bucket mix —
# the j13b precedent. Measured at registration: sf0.01 buckets are
# sizes 1-7 (the 21 buckets of 5-7 audit out, sizes 2-4 keep
# pairing), and of v03's TWO uncapped near-dup matches exactly ONE
# survives the cap (the other sits inside an oversized bucket) —
# i.e. the gate pins capped == uncapped minus dropped-bucket pairs
# with a real dropped match, not a cap so large it never fires.
# sf0.001 splits its size-1-9 mix the same way (22 buckets audited;
# its match facet is empty because uncapped v03 itself has 0 pairs
# there). A production corpus tunes this to its own bucket histogram
# (n24's calibration-audit pattern); the semantics under ANY value
# are what the gate pins.
SRP_MAX_BUCKET = 4


@register(
    "v03b_bucketed_cosine_capped_audit",
    oracle=f"""
    WITH c AS (SELECT vec_id, {_sql_vec('embedding')} AS v,
                      {_sql_bucket(_sql_vec('embedding'))} AS bucket
               FROM embeddings),
         sz AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n
                FROM c GROUP BY 1),
         p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                      list_dot_product(a.v, b.v)
                      / (sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(b.v, b.v))) AS cosine
               FROM c a JOIN c b
                 ON a.bucket = b.bucket AND a.vec_id < b.vec_id
               JOIN sz s
                 ON s.bucket = a.bucket AND s.n <= {SRP_MAX_BUCKET})
    SELECT 'match' AS facet, CAST(NULL AS BIGINT) AS bkey,
           vec_a, vec_b, cosine, CAST(NULL AS BIGINT) AS bucket_size
    FROM p WHERE cosine >= {NEARDUP_COS!r}
    UNION ALL
    SELECT 'oversized_bucket' AS facet, CAST(bucket AS BIGINT) AS bkey,
           CAST(NULL AS BIGINT) AS vec_a, CAST(NULL AS BIGINT) AS vec_b,
           CAST(NULL AS DOUBLE) AS cosine, n AS bucket_size
    FROM sz WHERE n > {SRP_MAX_BUCKET}
    """,
    note="V3b: the PRODUCTION spelling of v03 — "
    f"_srp_pairs(max_bucket={SRP_MAX_BUCKET}) executed and "
    "gate-verified like the j11b/j13b capped twins: near-dup match "
    "facet + oversized-SRP-bucket audit facet in ONE "
    "cell-for-cell-oracled output, so the truncation the "
    "adversarial-skew cap performs is never silent in the gate "
    "either. The cap bites partially on the real bucket mix at both "
    "gate SFs (hot buckets audit out as duplicate CLUSTERS for exact "
    "dedup to handle, normal buckets still pair) — the exact recall "
    "contract of the capped path, also pinned by "
    "tests/test_operators.py "
    "test_srp_bucket_cap_under_degenerate_collinear_corpus. An e05 "
    "index refresh on an untrusted corpus swaps v03 for this capped "
    "spelling.",
)
def v03b_bucketed_cosine_capped_audit(spark: SparkSession, sf_dir: str):
    withb = _srp_withb(t(spark, sf_dir, "embeddings"))
    nb = F.lit(None).cast("bigint")
    matches = _srp_pairs(withb, max_bucket=SRP_MAX_BUCKET).select(
        F.lit("match").alias("facet"),
        nb.alias("bkey"),
        F.col("vec_a").cast("bigint").alias("vec_a"),
        F.col("vec_b").cast("bigint").alias("vec_b"),
        F.col("cosine"),
        nb.alias("bucket_size"),
    )
    audit = oversized_buckets(withb, ("bucket",), SRP_MAX_BUCKET).select(
        F.lit("oversized_bucket").alias("facet"),
        F.col("bucket").cast("bigint").alias("bkey"),
        nb.alias("vec_a"),
        nb.alias("vec_b"),
        F.lit(None).cast("double").alias("cosine"),
        F.col("bucket_size").cast("bigint").alias("bucket_size"),
    )
    return matches.unionByName(audit)


# ---------------------------------------------------------------------------
# V5: one Lloyd's k-means step (assign + recompute centroids)
# ---------------------------------------------------------------------------

KM_K = 8
KM_DIM = 64


@register(
    "v05_kmeans_step",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS kv
      FROM embeddings WHERE vec_id < {KM_K}),
    corp AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
      SELECT c.vec_id, k.cid,
             list_dot_product(k.kv, k.kv)
               - 2.0 * list_dot_product(c.cv, k.kv) AS d,
             ROW_NUMBER() OVER (
               PARTITION BY c.vec_id
               ORDER BY list_dot_product(k.kv, k.kv)
                        - 2.0 * list_dot_product(c.cv, k.kv) ASC,
                        k.cid ASC) AS rn
      FROM corp c CROSS JOIN cent k),
    assign AS (
      SELECT s.vec_id, s.cid AS cell, corp.cv
      FROM scored s JOIN corp ON s.vec_id = corp.vec_id
      WHERE s.rn = 1),
    dims AS (
      SELECT cell, unnest(range(1, {KM_DIM} + 1)) AS dim_idx, cv
      FROM assign)
    SELECT cell, dim_idx,
           COUNT(*) AS n_members,
           floor(CAST(SUM(CAST(cv[dim_idx] AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*) * 1e6 + 0.5) / 1e6 AS centroid_val
    FROM dims GROUP BY cell, dim_idx
    """,
    note=f"One Lloyd's k-means iteration over embeddings (k={KM_K}): "
    "argmin squared distance via ||k||^2 - 2 c.k, ties to the lowest "
    "cid, through the one nearest-centroid kernel — the k collected "
    "centroids are a one-row relation read as a scalar subquery, so "
    "the assignment moves no corpus row and a length mismatch fails "
    "the query — then element-wise centroid means in LONG form "
    "(cell, dim) whose groupBy partial-aggregates map-side. Sums "
    "decimal-cast for order independence; the full loop is this "
    "step under operators/kmeans.py's convergence driver. The "
    "100 TB shape: per-iteration cost = one corpus scan + one "
    "k x dim-row exchange, state = k x dim doubles on the driver",
)
def v05_kmeans_step(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    corp = e.select("vec_id", vec.alias("cv"))
    # seeds collected as model rows (k x dim doubles); the
    # assignment then runs against them without a corpus shuffle —
    # see _spark_lloyd_step
    return _spark_lloyd_step(corp, _seed_rows(corp, KM_K))


# ---------------------------------------------------------------------------
# V6: bounded two-step k-means — the oracle-expressible kmeans_fit
# ---------------------------------------------------------------------------


def _sql_lloyd_step(corp: str, cent: str, tag: str) -> str:
    """One Lloyd step as chained CTEs: assign each vector of `corp` to
    its nearest centroid in `cent` (tie-break on cid), then per-(cell,
    dim) rounded means. Mirrors the Spark `_spark_lloyd_step`."""
    return f"""
    scored{tag} AS (
      SELECT c.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY c.vec_id
               ORDER BY list_dot_product(k.kv, k.kv)
                        - 2.0 * list_dot_product(c.cv, k.kv) ASC,
                        k.cid ASC) AS rn,
             k.cid
      FROM {corp} c CROSS JOIN {cent} k),
    assign{tag} AS (
      SELECT s.cid AS cell, corp0.cv
      FROM scored{tag} s JOIN {corp} corp0 ON s.vec_id = corp0.vec_id
      WHERE s.rn = 1),
    dims{tag} AS (
      SELECT cell, unnest(range(1, {KM_DIM} + 1)) AS dim_idx, cv
      FROM assign{tag}),
    step{tag} AS (
      SELECT cell, dim_idx, COUNT(*) AS n_members,
             floor(CAST(SUM(CAST(cv[dim_idx] AS DECIMAL(38,18))) AS DOUBLE)
                   / COUNT(*) * 1e6 + 0.5) / 1e6 AS centroid_val
      FROM dims{tag} GROUP BY cell, dim_idx)"""


def _seed_rows(corp, k: int) -> list:
    """v05/v06's deterministic seeds — (cid=vec_id, kv) for the
    vec_id < k vectors, collected driver-side: k x dim doubles, the
    model-initialization metadata class (the v04 rebuild's
    _trained_centroid_rows precedent)."""
    return [
        (int(r["vec_id"]), [float(x) for x in r["cv"]])
        for r in corp.filter(F.col("vec_id") < k).collect()
    ]


def _step_rows(step_df) -> list:
    """Collect one Lloyd step's (cell, dim_idx, centroid_val) output
    as (cid, kv) rows for the next step's literal assignment — k x
    dim 6-decimal-rounded doubles, exact through repr round-trip."""
    by: dict = {}
    for r in step_df.collect():
        by.setdefault(int(r["cell"]), {})[int(r["dim_idx"])] = float(
            r["centroid_val"]
        )
    return [
        (cell, [dims[i] for i in sorted(dims)])
        for cell, dims in sorted(by.items())
    ]


def _spark_lloyd_step(corp, cent_rows):
    """One Lloyd step over collected centroid rows: per-row argmin
    assignment through operators/kmeans.assign_cells (the one
    nearest-centroid kernel — no corpus shuffle), then long-form
    rounded means whose groupBy partial-aggregates map-side to
    k x dim rows per task. Assignments match the _sql_lloyd_step
    oracle bit for bit: same d formula, same fold sequence, same
    (d, cid) tie-break."""
    from ..functions.rounding import rhu
    from ..operators.kmeans import assign_cells

    assign = assign_cells(corp, cent_rows).select("cell", "cv")
    dims = assign.select(
        "cell", F.posexplode("cv").alias("dim_idx0", "val")
    ).select("cell", (F.col("dim_idx0") + 1).alias("dim_idx"), "val")
    return dims.groupBy("cell", "dim_idx").agg(
        F.count(F.lit(1)).alias("n_members"),
        rhu(
            F.sum(F.col("val").cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("centroid_val"),
    )


@register(
    "v06_kmeans_two_steps",
    oracle=f"""
    WITH corp AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    cent1 AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS kv
      FROM embeddings WHERE vec_id < {KM_K}),
    {_sql_lloyd_step('corp', 'cent1', '1')},
    cent2 AS (
      SELECT cell AS cid, list(centroid_val ORDER BY dim_idx) AS kv
      FROM step1 GROUP BY cell),
    {_sql_lloyd_step('corp', 'cent2', '2')}
    SELECT cell, dim_idx, n_members, centroid_val FROM step2
    """,
    note="V6: operators/kmeans.kmeans_fit bounded to TWO Lloyd "
    "iterations with a full DuckDB value oracle — "
    "iteration-1 centroids are rounded to 6 decimals in BOTH engines "
    "before re-use, making the second assignment bit-deterministic. "
    "Step-1's k x dim rounded centroids COLLECT and feed step 2 as "
    "its model — a one-row relation of exact literals, applied by "
    "the one nearest-centroid kernel — exactly how the "
    "unbounded operator iterates: the serve plan is one corpus scan "
    "+ one map-side-combined (cell, dim) exchange (~32 B/row "
    "measured), and no exchange anywhere carries a vector. The "
    "unbounded operator (displacement-convergence loop) stays "
    "pytest-verified with the identical per-iteration shape.",
)
def v06_kmeans_two_steps(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    corp = e.select("vec_id", vec.alias("cv"))
    # step-1 centroids are collected (k x dim 6-decimal doubles, the
    # per-round model state) and fed to step 2 as its model — the
    # trainer's iteration discipline (operators/kmeans.py): the
    # serve plan is ONE corpus scan + one (cell, dim) aggregation,
    # and no exchange anywhere carries a vector
    cent2_rows = _step_rows(_spark_lloyd_step(corp, _seed_rows(corp, KM_K)))
    return _spark_lloyd_step(corp, cent2_rows).select(
        "cell", "dim_idx", "n_members", "centroid_val"
    )


# ---------------------------------------------------------------------------
# V7: int8 vector quantization (storage/bandwidth compression for ANN)
# ---------------------------------------------------------------------------


def int8_quantize(df, vec_col: str = "embedding"):
    """Library operator: symmetric int8 quantization, array form.

    Per-vector max-abs scale, q = round(x/scale*127) as array<int>.
    Shrinks an ANN corpus 4x (the standard IVF/PQ storage step) as a
    NARROW projection — array HOFs stay JVM-side, no shuffle, no
    Python. round() spelled floor(x+0.5) because engines disagree on
    banker's rounding. Pytest-verified (tests cover the array form);
    the registered v07 query emits a stringified projection because
    the driver's pandas canonicalization cannot hash list cells.
    """
    v = F.col(vec_col).cast("array<double>")
    mx = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-30)
    )
    withm = df.select("vec_id", v.alias("v"), mx.alias("mx"))
    return withm.select(
        "vec_id",
        F.col("mx").cast("double").alias("scale"),
        F.transform(
            F.col("v"),
            lambda x: F.floor(x / F.col("mx") * 127.0 + F.lit(0.5)).cast(
                "int"
            ),
        ).alias("q"),
    )


@register(
    "v07_int8_quantize",
    oracle="""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         m AS (SELECT vec_id, v,
                      greatest(list_max(list_transform(v, x -> abs(x))),
                               1e-30) AS mx
               FROM c)
    SELECT vec_id, CAST(mx AS DOUBLE) AS scale,
           array_to_string(
             list_transform(v, x -> CAST(floor(x / mx * 127.0 + 0.5)
                                         AS INTEGER)), ',') AS q
    FROM m
    """,
    note="V7 symmetric int8 quantization (see int8_quantize). The "
    "registered query projects the int8 array to a comma-joined "
    "string so the driver gate can hash it (pandas sort_values cannot "
    "factorize list cells — CORRECTNESS_r03 err on the array form); "
    "library callers use int8_quantize() for the array<int> column.",
)
def v07_int8_quantize(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings")
    return int8_quantize(e).select(
        "vec_id",
        "scale",
        F.array_join(F.transform("q", lambda x: x.cast("string")), ",").alias(
            "q"
        ),
    )


# ---------------------------------------------------------------------------
# V8: embedding near-dup canonicalization (components over v03 pairs)
# ---------------------------------------------------------------------------


@register(
    "v08_embedding_dedup_components",
    oracle=f"""
    WITH RECURSIVE c AS (
      SELECT vec_id, {_sql_vec('embedding')} AS v,
             {_sql_bucket(_sql_vec('embedding'))} AS bucket
      FROM embeddings),
    p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))) AS cosine
          FROM c a JOIN c b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    pairs AS (SELECT vec_a, vec_b FROM p WHERE cosine >= {NEARDUP_COS!r}),
    edges AS (SELECT vec_a AS u, vec_b AS v FROM pairs
              UNION ALL SELECT vec_b AS u, vec_a AS v FROM pairs),
    reach(node, lbl) AS (
      SELECT vec_id AS node, vec_id AS lbl FROM embeddings
      UNION
      SELECT r.node, e.v AS lbl FROM reach r JOIN edges e ON e.u = r.lbl)
    SELECT node AS vec_id, MIN(lbl) AS canonical_id,
           MIN(lbl) <> node AS is_dup
    FROM reach GROUP BY node
    """,
    note="V8: keep-one canonicalization of the embedding near-dup "
    "graph — the d05 story on the vector side. SRP-bucketed candidate "
    "pairs (v03) feed hash-to-min connected components "
    "(operators/components.py, O(log diameter) rounds); every vector "
    "maps to its cluster's min vec_id. Oracle = DuckDB recursive CTE "
    "transitive closure.",
)
def v08_embedding_dedup_components(spark: SparkSession, sf_dir: str):
    from ..operators.components import connected_components

    pairs = v03_bucketed_neardup(spark, sf_dir).select("vec_a", "vec_b")
    labels = connected_components(pairs, src="vec_a", dst="vec_b")
    ids = t(spark, sf_dir, "embeddings").select("vec_id")
    return (
        ids.join(labels, ids["vec_id"] == labels["node"], "left")
        .select(
            "vec_id",
            F.coalesce("comp", "vec_id").alias("canonical_id"),
        )
        .withColumn("is_dup", F.col("canonical_id") != F.col("vec_id"))
    )


# ---------------------------------------------------------------------------
# V9: product quantization — the IVF-PQ memory-compression building block
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_K = 8  # sub-centroids per subspace (first PQ_K corpus vectors)
PQ_SUB = 16  # dims per subspace (64 / PQ_M)


@register(
    "v09_product_quantization",
    oracle=f"""
    WITH corp AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    subs AS (
      SELECT vec_id, m.m,
             list_slice(v, m.m * {PQ_SUB} + 1, (m.m + 1) * {PQ_SUB}) AS sv
      FROM corp CROSS JOIN (SELECT unnest(range({PQ_M})) AS m) m),
    cents AS (
      SELECT m, vec_id AS cid, sv AS kv FROM subs WHERE vec_id < {PQ_K}),
    scored AS (
      SELECT s.vec_id, s.m, c.cid,
             list_dot_product(s.sv, s.sv)
               - 2 * list_dot_product(s.sv, c.kv)
               + list_dot_product(c.kv, c.kv) AS d2,
             ROW_NUMBER() OVER (
               PARTITION BY s.vec_id, s.m
               ORDER BY list_dot_product(s.sv, s.sv)
                        - 2 * list_dot_product(s.sv, c.kv)
                        + list_dot_product(c.kv, c.kv) ASC,
                        c.cid ASC) AS rn
      FROM subs s JOIN cents c ON s.m = c.m),
    best AS (SELECT vec_id, m, cid, d2 FROM scored WHERE rn = 1)
    SELECT vec_id,
           string_agg(CAST(cid AS VARCHAR), ',' ORDER BY m) AS pq_code,
           floor(sqrt(greatest(
             CAST(SUM(CAST(d2 AS DECIMAL(38,12))) AS DOUBLE), 0.0))
             * 1e9 + 0.5) / 1e9
             AS recon_err
    FROM best GROUP BY vec_id
    """,
    note=f"V9 product quantization: each 64-d vector splits into "
    f"{PQ_M} x {PQ_SUB}-d subspaces, each sub-vector snaps to its "
    f"nearest of {PQ_K} deterministic sub-centroids -> a {PQ_M}-byte "
    "code (64x memory compression) + reconstruction error. THE "
    "memory-side companion to IVF (v04): at 100 TB the codes table "
    "fits in RAM where raw vectors cannot, and ANN rescoring reads "
    "codes first. Plan: sub-centroids broadcast (PQ_M*PQ_K tiny "
    "rows), per-(vector, subspace) argmin is min_by — partially "
    "aggregable, so the map side reduces K candidates to 1 before "
    "either shuffle; distances use the dot-product identity so both "
    "engines run bit-identical arithmetic (v01's fold parity). Ties "
    "broken by centroid id.",
)
def v09_product_quantization(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    corp = e.select("vec_id", vec.alias("v"))
    m_ids = F.array(*[F.lit(m) for m in range(PQ_M)])
    subs = corp.select(
        "vec_id",
        F.explode(m_ids).alias("m"),
        F.col("v"),
    ).select(
        "vec_id",
        "m",
        F.slice(F.col("v"), F.col("m") * PQ_SUB + 1, PQ_SUB).alias("sv"),
    )
    cents = subs.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("kv")
    )
    d2 = (
        _dot(F.col("sv"), F.col("sv"))
        - 2 * _dot(F.col("sv"), F.col("kv"))
        + _dot(F.col("kv"), F.col("kv"))
    )
    best = (
        subs.join(F.broadcast(cents), "m")
        .select("vec_id", "m", "cid", d2.alias("d2"))
        .groupBy("vec_id", "m")
        .agg(
            F.expr("min_by(cid, struct(d2, cid))").alias("cid"),
            F.min(F.struct("d2", "cid")).getField("d2").alias("d2"),
        )
    )
    from ..functions.rounding import rhu

    return best.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "cid"))),
                lambda s: s.getField("cid").cast("string"),
            ),
            ",",
        ).alias("pq_code"),
        # decimal-cast sum (dsum policy, scale 12 for sub-unit
        # distances): addition order across partitions must not be able
        # to flip the 1e-9-rounded value vs DuckDB's SUM
        rhu(
            F.sqrt(
                F.greatest(
                    F.sum(F.col("d2").cast("decimal(38,12)")).cast("double"),
                    F.lit(0.0),
                )
            )
        ).alias("recon_err"),
    )
