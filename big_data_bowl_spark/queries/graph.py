"""Graph analytics over the near-dup similarity graph.

The reference has no graph operators; connected components
(operators/components.py, d05/v08) established the pair-graph story —
g01 adds the other canonical iterative graph algorithm, PageRank, as a
bounded-iteration Catalyst loop with a full value oracle.

Why PageRank on a dedup pipeline: on a near-duplicate similarity
graph, high-rank documents are the "canonical centers" of duplicate
neighborhoods — a principled keep-one choice (keep the most-linked
version) where d05 keeps min-id. The same loop shape (join + grouped
sum per round, lineage truncated per round) is the template for any
fixed-point iteration on edges — label propagation, HITS, harmonic
centrality.

Scale design:
- The symmetric edge table is hash-partitioned on the source key ONCE
  and localCheckpoint'd; every iteration's join then shuffles only the
  rank table (node-sized), never the edges (the classic distributed
  PageRank layout — edges dwarf nodes at 100 TB).
- Each iteration is one join + one grouped decimal sum (map-side
  combined). K iterations = K joins, no driver-side data.
- The only driver action is the node count (one scalar, like the
  k-means convergence check).

Float policy (queries/base.py): per-node contributions are decimal-
summed (order-independent across partitionings) and every rank is
rounded half-up to 12 decimals per iteration, so both engines iterate
over IDENTICAL values — the oracle is an exact value match, not a
tolerance check.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import rhu
from ..operators.components import release_local_checkpoint
from .base import register
from .nlp import _D02_ORACLE, d02_dedup_minhash_lsh

PR_ITERS = 5
PR_DAMPING = 0.85
PR_SCALE = 12  # rank rounding, digits


def _sym_edges(pairs):
    """Symmetrized, u-partitioned, checkpointed edge table from d02's
    candidate pairs — the shared head of the g01/g02/g05/g06 loops.

    NO .distinct() on the union: d02's output contract is DISTINCT
    i<j pairs (nlp._pairs_from_bands ends in an output-pair-keyed
    distinct over banding.bucket_pairs), so the two directed halves
    are duplicate-free and disjoint (u<v vs u>v; i<j strict means no
    self-loops) — union-all IS union-distinct here, while
    the removed distinct cost a full |E|-keyed shuffle + hash state
    per query just to re-prove it. The oracles' SQL `UNION` dedups by
    definition, so parity is unchanged; a future edge feed that
    violates the precondition surfaces loudly as a cell-level oracle
    mismatch in the driver gate (degrees/contributions would shift),
    not as silent drift.
    """
    return (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        # partition the (large) edge table on the join key ONCE; every
        # iteration's join reuses it and shuffles only node-sized
        # tables
        .repartition("u")
        .localCheckpoint()
    )


def _pr_oracle() -> str:
    """Unrolled K-iteration PageRank as chained CTEs on top of the d02
    candidate-pair chain (no recursive CTE: several engines disallow
    aggregation in the recursive term — unrolling is portable and the
    iteration count is a constant of the operator)."""

    def rhu12(expr: str) -> str:
        p = 10.0**PR_SCALE
        return f"floor(({expr}) * {p!r} + 0.5) / {p!r}"

    parts = [
        f"WITH cand AS MATERIALIZED ({_D02_ORACLE})",
        "sym AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM cand "
        "UNION SELECT doc_b, doc_a FROM cand)",
        "deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u)",
        "nodes AS (SELECT DISTINCT u AS node FROM sym)",
        "nn AS (SELECT COUNT(*) AS c FROM nodes)",
        f"r0 AS (SELECT node, {rhu12('1.0 / (SELECT c FROM nn)')} AS rank "
        "FROM nodes)",
    ]
    for i in range(1, PR_ITERS + 1):
        update = (
            f"{1.0 - PR_DAMPING!r} / (SELECT c FROM nn) + {PR_DAMPING!r} * "
            f"CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(38,{PR_SCALE + 3}))) "
            "AS DOUBLE)"
        )
        parts.append(
            f"r{i} AS (SELECT s.v AS node, {rhu12(update)} AS rank "
            f"FROM r{i - 1} r "
            "JOIN sym s ON s.u = r.node "
            "JOIN deg d ON d.u = r.node "
            "GROUP BY s.v)"
        )
    return (
        ", ".join(parts)
        + f" SELECT node AS doc_id, rank AS pagerank FROM r{PR_ITERS}"
    )


@register(
    "g01_pagerank_neardup",
    oracle=_pr_oracle(),
    note=f"G1 PageRank ({PR_ITERS} iterations, damping {PR_DAMPING}) "
    "over the symmetric d02 near-dup candidate graph: rank-weighted "
    "canonical-document selection, and the template for any "
    "fixed-point edge iteration. Edges are repartitioned on the "
    "source key once and checkpointed, so each iteration shuffles "
    "only the node-sized rank table; per-node sums are decimal "
    "(order-independent) and ranks round half-up to "
    f"{PR_SCALE} decimals per iteration — both engines iterate over "
    "identical values, making the oracle an exact match. The oracle "
    "unrolls the iterations as chained CTEs (portable — no "
    "aggregation-in-recursion).",
)
def g01_pagerank_neardup(spark: SparkSession, sf_dir: str):
    pairs = d02_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sym = _sym_edges(pairs)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    nodes = sym.select(F.col("u").alias("node")).distinct()
    n = nodes.count()  # one metadata-sized driver scalar (cf. k-means)
    if n == 0:
        # an already-deduplicated corpus has no candidate pairs; the
        # oracle returns zero rows, so return the empty frame instead
        # of dividing by zero below (review r7)
        return spark.createDataFrame([], "doc_id long, pagerank double")

    ranks = nodes.withColumn("rank", rhu(F.lit(1.0) / n, PR_SCALE))
    teleport = (1.0 - PR_DAMPING) / n
    # No per-iteration localCheckpoint (r17, measured 2.70 s -> 1.98 s
    # at sf0.1, values identical): each iteration references the
    # previous ranks table exactly ONCE (the contrib join), so the
    # unrolled PR_ITERS-deep plan is LINEAR in the iteration count —
    # no self-referenced subtree doubles per round (contrast g03/g06,
    # whose loops reference an intermediate twice per round and keep
    # their per-round truncation). The fixed 5-level lineage over the
    # checkpointed edge table is a bounded plan at any scale; dropping
    # the five eager checkpoint jobs also drops their five pinned
    # node-sized block sets (nothing left to release). `deg` IS
    # checkpointed once: it is referenced by all PR_ITERS iterations,
    # and inlined it would re-aggregate the edge table per reference.
    deg = deg.localCheckpoint()
    for _ in range(PR_ITERS):
        contrib = (
            sym.join(ranks, sym["u"] == ranks["node"])
            .join(deg, "u")
            .select(
                F.col("v"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
        )
        summed = contrib.groupBy("v").agg(
            F.sum(F.col("c").cast(f"decimal(38,{PR_SCALE + 3})"))
            .cast("double")
            .alias("s")
        )
        ranks = summed.select(
            F.col("v").alias("node"),
            rhu(F.lit(teleport) + PR_DAMPING * F.col("s"), PR_SCALE).alias(
                "rank"
            ),
        )
    return ranks.select(
        F.col("node").alias("doc_id"), F.col("rank").alias("pagerank")
    )


LP_ROUNDS = 3


def _lp_oracle() -> str:
    """Unrolled synchronous label propagation: each round every node
    adopts its neighborhood's most frequent label (ties -> smallest
    label). Integer counts + deterministic tie-break = exact parity
    with no float policy needed."""
    parts = [
        f"WITH cand AS MATERIALIZED ({_D02_ORACLE})",
        "sym AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM cand "
        "UNION SELECT doc_b, doc_a FROM cand)",
        "l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym)",
    ]
    for i in range(1, LP_ROUNDS + 1):
        parts.append(
            f"c{i} AS (SELECT s.v AS node, r.label, COUNT(*) AS n "
            f"FROM l{i - 1} r JOIN sym s ON s.u = r.node "
            "GROUP BY s.v, r.label)"
        )
        parts.append(
            f"l{i} AS (SELECT node, label FROM "
            f"(SELECT node, label, ROW_NUMBER() OVER ("
            "PARTITION BY node ORDER BY n DESC, label ASC) AS rk "
            f"FROM c{i}) WHERE rk = 1)"
        )
    return (
        ", ".join(parts)
        + f" SELECT node AS doc_id, label AS community FROM l{LP_ROUNDS}"
    )


@register(
    "g02_label_propagation",
    oracle=_lp_oracle(),
    note=f"G2 synchronous label propagation ({LP_ROUNDS} rounds) on the "
    "near-dup graph: each node adopts its neighborhood's most frequent "
    "label, ties to the smallest — community detection, the coarser "
    "complement to exact connected components (d05). Same edges-"
    "partitioned-once loop as g01; per-round work is one join + one "
    "integer count + a min_by pick (both map-side combinable). All "
    "arithmetic is integer with deterministic tie-breaks, so the "
    "unrolled-CTE oracle is exact by construction — no float policy "
    "involved.",
)
def g02_label_propagation(spark: SparkSession, sf_dir: str):
    pairs = d02_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sym = _sym_edges(pairs)
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    # No per-round localCheckpoint (r17 — the g01 adjudication): each
    # round references the previous labels exactly once, so the
    # unrolled LP_ROUNDS-deep plan is linear over the checkpointed
    # edge table; the eager per-round jobs (and their pinned blocks)
    # were pure overhead at a fixed round count.
    for _ in range(LP_ROUNDS):
        counts = (
            sym.join(labels, sym["u"] == labels["node"])
            .groupBy(F.col("v"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # most frequent neighborhood label, smallest label on ties:
        # min over the (-n, label) lexicographic struct — partially
        # aggregable, unlike a row_number window over all candidates
        labels = counts.groupBy(F.col("v").alias("node")).agg(
            F.expr("min_by(label, struct(-n, label))").alias("label")
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("community")
    )


# ---------------------------------------------------------------------------
# G3: HITS hubs/authorities — the directed-graph fixed point
# ---------------------------------------------------------------------------

HITS_ITERS = 3


def _hits_oracle() -> str:
    """Unrolled K-iteration HITS on the DIRECTED d02 candidate pairs
    (doc_a -> doc_b, i.e. low id -> high id): same chained-CTE shape
    as g01, with the per-iteration L1 normalization as a scalar
    subquery."""

    def rhu12(expr: str) -> str:
        p = 10.0**PR_SCALE
        return f"floor(({expr}) * {p!r} + 0.5) / {p!r}"

    dec = f"DECIMAL(38,{PR_SCALE + 3})"
    parts = [
        # MATERIALIZED: e is referenced 2x per unrolled iteration, and
        # DuckDB would otherwise inline (re-execute) the whole MinHash
        # candidate chain at every reference — measured 172 s vs ~2 s
        f"WITH cand AS MATERIALIZED ({_D02_ORACLE})",
        "e AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM cand)",
        "nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e)",
        "h0 AS (SELECT node, 1.0 AS hub FROM nodes)",
    ]
    for i in range(1, HITS_ITERS + 1):
        parts.append(
            f"ar{i} AS (SELECT e.v AS node, "
            f"CAST(SUM(CAST(h.hub AS {dec})) AS DOUBLE) AS s "
            f"FROM h{i - 1} h JOIN e ON e.u = h.node GROUP BY e.v)"
        )
        parts.append(
            f"at{i} AS (SELECT CAST(SUM(CAST(s AS {dec})) AS DOUBLE) "
            f"AS t FROM ar{i})"
        )
        parts.append(
            f"a{i} AS (SELECT node, "
            f"{rhu12(f's / (SELECT t FROM at{i})')} AS auth FROM ar{i})"
        )
        parts.append(
            f"hr{i} AS (SELECT e.u AS node, "
            f"CAST(SUM(CAST(a.auth AS {dec})) AS DOUBLE) AS s "
            f"FROM a{i} a JOIN e ON e.v = a.node GROUP BY e.u)"
        )
        parts.append(
            f"ht{i} AS (SELECT CAST(SUM(CAST(s AS {dec})) AS DOUBLE) "
            f"AS t FROM hr{i})"
        )
        parts.append(
            f"h{i} AS (SELECT node, "
            f"{rhu12(f's / (SELECT t FROM ht{i})')} AS hub FROM hr{i})"
        )
    return (
        ", ".join(parts)
        + f" SELECT n.node AS doc_id, COALESCE(a.auth, 0.0) AS authority, "
        f"COALESCE(h.hub, 0.0) AS hub_score "
        f"FROM nodes n LEFT JOIN a{HITS_ITERS} a ON a.node = n.node "
        f"LEFT JOIN h{HITS_ITERS} h ON h.node = n.node"
    )


@register(
    "g03_hits_neardup",
    oracle=_hits_oracle(),
    note=f"G3 HITS ({HITS_ITERS} iterations, L1-normalized) on the "
    "DIRECTED near-dup candidate graph (doc_a -> doc_b): authorities "
    "= documents many earlier documents point at (re-crawled / "
    "re-shared canonical sources), hubs = documents linking many "
    "authorities — the directed complement to g01's undirected "
    "PageRank, reusing the same edges-partitioned-once loop. The edge "
    "table is materialized twice, hash-partitioned by u AND by v "
    "(checkpointed once each), so the hub->auth join and the "
    "auth->hub join BOTH reuse a stable edge partitioning and shuffle "
    "only the node-sized score table per iteration. Normalization "
    "totals ride a broadcast 1-row scalar (no single-partition "
    "exchange, no driver collect); decimal sums + 12-decimal "
    "half-up rounding per step keep both engines on identical values "
    "(g01 float policy), so the unrolled-CTE oracle matches exactly.",
)
def g03_hits_neardup(spark: SparkSession, sf_dir: str):
    pairs = d02_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    e_by_u = e.repartition("u").localCheckpoint()
    # LAZY (r18): iteration 1's eager hubs checkpoint is the first
    # action that reads e_by_v, and it materializes this checkpoint
    # as a side effect — one fewer eager job, same truncated lineage
    # (the components.py r18 discipline).
    e_by_v = e_by_u.repartition("v").localCheckpoint(eager=False)
    nodes = (
        e_by_u.select(F.col("u").alias("node"))
        .unionByName(e_by_u.select(F.col("v").alias("node")))
        .distinct()
    )
    dec = f"decimal(38,{PR_SCALE + 3})"
    hubs = nodes.withColumn("hub", F.lit(1.0))
    auths = None
    prev_ar = prev_hr = prev_hubs = None
    ar = hr = None
    # ONE eager checkpoint per iteration (r18; was two, measured
    # 1.48 s -> 1.17 s warm for the loop at sf0.1): the per-side SUM
    # tables ar/hr carry LAZY checkpoint marks, so the iteration's
    # single eager hubs checkpoint materializes them in dependency
    # order — the `at`/`ht` broadcast builds compute and persist
    # ar/hr, and the normalize projections then READ the persisted
    # blocks instead of re-running each reduce-side aggregation (the
    # eager layout paid that double evaluation every iteration:
    # once in the broadcast build, once on the stream side). auths
    # needs no checkpoint of its own — it is a narrow projection of
    # the checkpointed ar plus a 1-row broadcast, so its lineage is
    # already truncated at ar. Releases keep the r7 discipline:
    # a round's ar/hr blocks are released only after the NEXT
    # round's eager action has materialized its successors.
    for _ in range(HITS_ITERS):
        ar = (
            e_by_u.join(hubs, e_by_u["u"] == hubs["node"])
            .groupBy(e_by_u["v"])
            .agg(F.sum(F.col("hub").cast(dec)).cast("double").alias("s"))
        ).localCheckpoint(eager=False)
        at = ar.agg(F.sum(F.col("s").cast(dec)).cast("double").alias("t"))
        auths = ar.crossJoin(F.broadcast(at)).select(
            F.col("v").alias("node"),
            rhu(F.col("s") / F.col("t"), PR_SCALE).alias("auth"),
        )
        hr = (
            e_by_v.join(auths, e_by_v["v"] == auths["node"])
            .groupBy(e_by_v["u"])
            .agg(F.sum(F.col("auth").cast(dec)).cast("double").alias("s"))
        ).localCheckpoint(eager=False)
        ht = hr.agg(F.sum(F.col("s").cast(dec)).cast("double").alias("t"))
        hubs = hr.crossJoin(F.broadcast(ht)).select(
            F.col("u").alias("node"),
            rhu(F.col("s") / F.col("t"), PR_SCALE).alias("hub"),
        ).localCheckpoint()
        # the eager checkpoint above materialized this round's ar and
        # hr — the previous round's blocks (and the superseded hubs
        # table) are now safe to release (components.py r7/r16)
        if prev_ar is not None:
            release_local_checkpoint(prev_ar)
        if prev_hr is not None:
            release_local_checkpoint(prev_hr)
        if prev_hubs is not None:
            release_local_checkpoint(prev_hubs)
        prev_ar, prev_hr, prev_hubs = ar, hr, hubs
    return (
        nodes.join(auths, "node", "left")
        .join(hubs, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("auth", F.lit(0.0)).alias("authority"),
            F.coalesce("hub", F.lit(0.0)).alias("hub_score"),
        )
    )


# ---------------------------------------------------------------------------
# G4: triangle counting + local clustering coefficient
# ---------------------------------------------------------------------------

_G04_ORACLE = (
    f"WITH cand AS MATERIALIZED ({_D02_ORACLE}), "
    "e AS (SELECT doc_a AS u, doc_b AS v FROM cand), "
    "tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c "
    "FROM e e1 JOIN e e2 ON e1.v = e2.u "
    "JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v), "
    "corners AS (SELECT a AS node FROM tri "
    "UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri), "
    "pernode AS (SELECT node, COUNT(*) AS n_tri FROM corners "
    "GROUP BY node), "
    "sym AS MATERIALIZED (SELECT u, v FROM e UNION SELECT v, u FROM e), "
    "deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u) "
    "SELECT d.u AS doc_id, d.deg, "
    "COALESCE(p.n_tri, 0) AS n_triangles, "
    "CASE WHEN d.deg >= 2 THEN "
    "floor(2.0 * COALESCE(p.n_tri, 0) / (d.deg * (d.deg - 1.0)) "
    "* 1e9 + 0.5) / 1e9 ELSE 0.0 END AS clustering_coef "
    "FROM deg d LEFT JOIN pernode p ON p.node = d.u"
)


@register(
    "g04_triangle_count",
    oracle=_G04_ORACLE,
    note="G4 triangle counting + local clustering coefficient on the "
    "d02 near-dup graph — the density diagnostic for duplicate "
    "neighborhoods (a clique-like cluster is one boilerplate family; "
    "a high-degree node with NO triangles is a hub false-positive "
    "worth re-verifying). Algorithm: the compact-forward node- "
    "ordering scheme — every edge is directed low-id -> high-id, so "
    "each triangle is enumerated exactly once as (a<b<c) by one "
    "wedge join (e1.v = e2.u) closed by one edge semi-check; per- "
    "node counts explode each triangle to its 3 corners. All joins "
    "are equi-joins on node keys (no cartesian anywhere); at 100 TB "
    "the standard refinement is ordering by DEGREE instead of id so "
    "high-degree nodes never anchor wedges — same plan, different "
    "comparator, noted not needed at the candidate-graph densities "
    "dq04 measures. The directed edge table builds once and "
    "checkpoints (g01 policy: iterative/multi-referenced edges never "
    "re-derive the LSH chain per consumer).",
)
def g04_triangle_count(spark: SparkSession, sf_dir: str):
    pairs = d02_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    e = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .repartition("u")
        .localCheckpoint()
    )
    wedge = e.alias("e1").join(
        e.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(
        F.col("e1.u").alias("a"),
        F.col("e1.v").alias("b"),
        F.col("e2.v").alias("c"),
    )
    tri = wedge.join(
        e.alias("e3"),
        (F.col("a") == F.col("e3.u")) & (F.col("c") == F.col("e3.v")),
        "left_semi",
    )
    # one explode, not a 3-branch union: Catalyst evaluates a
    # self-referenced subtree once per union branch, so the expensive
    # wedge join + closing semi-join — g04's dominant cost — ran
    # THREE times (review r7); the explode emits the same corner
    # multiset from a single evaluation
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    pernode = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    # union-all, no edge-keyed distinct: e is d02's distinct i<j pair
    # set (see _sym_edges), so the two directions cannot collide
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    n_tri = F.coalesce("n_tri", F.lit(0))
    coef = F.when(
        F.col("deg") >= 2,
        rhu(
            2.0 * n_tri / (F.col("deg") * (F.col("deg") - 1.0)), 9
        ),
    ).otherwise(F.lit(0.0))
    return deg.join(pernode, deg["u"] == pernode["node"], "left").select(
        F.col("u").alias("doc_id"),
        "deg",
        n_tri.alias("n_triangles"),
        coef.alias("clustering_coef"),
    )


# ---------------------------------------------------------------------------
# G5: k-core decomposition (iterative peeling)
# ---------------------------------------------------------------------------

KCORE_K = 2
KCORE_ROUNDS = 4  # both engines unroll identically; convergence pinned
                  # by pytest (one extra round changes nothing)


def _kcore_oracle() -> str:
    parts = [
        f"WITH cand AS MATERIALIZED ({_D02_ORACLE})",
        "sym AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM cand "
        "UNION SELECT doc_b, doc_a FROM cand)",
        "n0 AS (SELECT DISTINCT u AS node FROM sym)",
    ]
    for i in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"d{i} AS (SELECT s.u AS node, COUNT(*) AS deg FROM sym s "
            f"JOIN n{i - 1} a ON s.u = a.node "
            f"JOIN n{i - 1} b ON s.v = b.node "
            "GROUP BY s.u)"
        )
        parts.append(
            f"n{i} AS (SELECT node FROM d{i} WHERE deg >= {KCORE_K})"
        )
    return (
        ", ".join(parts)
        + f" SELECT d.node AS doc_id, d.deg AS core_deg "
        f"FROM d{KCORE_ROUNDS} d JOIN n{KCORE_ROUNDS} n "
        "ON d.node = n.node"
    )


@register(
    "g05_kcore",
    oracle=_kcore_oracle(),
    note=f"G5 k-core decomposition (k={KCORE_K}, {KCORE_ROUNDS} peel "
    "rounds): repeatedly remove nodes of degree < k until the "
    "residual graph is stable — the density filter that separates "
    "genuine duplicate CLUSTERS from chains of borderline pairs "
    "(a 2-core survivor has at least two independent similarity "
    "witnesses; pendant nodes hanging off one edge are peeled). "
    "The fourth instantiation of the edges-partitioned-once loop "
    "(g01 sum, g02 majority, g03 normalize, g05 PEEL): each round "
    "is one degree aggregation + one semi-restriction, shuffling "
    "only node-sized tables; the edge table builds and checkpoints "
    "once. Both engines unroll the same fixed round count so the "
    "oracle matches even mid-convergence; pytest proves the real "
    "graph converges within the unroll (round R+1 == round R).",
)
def g05_kcore(spark: SparkSession, sf_dir: str):
    pairs = d02_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sym = _sym_edges(pairs)
    nodes = sym.select(F.col("u").alias("node")).distinct()
    deg = None
    for _ in range(KCORE_ROUNDS):
        alive = nodes.select(F.col("node"))
        deg = (
            sym.join(alive, sym["u"] == alive["node"], "left_semi")
            .join(
                alive.select(F.col("node").alias("vnode")),
                sym["v"] == F.col("vnode"),
                "left_semi",
            )
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        nodes = (
            deg.filter(F.col("deg") >= KCORE_K)
            .select(F.col("u").alias("node"))
            .localCheckpoint()
        )
    return deg.join(
        nodes, deg["u"] == nodes["node"], "left_semi"
    ).select(F.col("u").alias("doc_id"), F.col("deg").alias("core_deg"))


BFS_ROUNDS = 3
BFS_SEED_MOD = 50  # seeds: graph nodes whose doc_id is divisible by this


def _bfs_oracle() -> str:
    parts = [
        f"WITH cand AS MATERIALIZED ({_D02_ORACLE})",
        "sym AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM cand "
        "UNION SELECT doc_b, doc_a FROM cand)",
        f"r0 AS (SELECT DISTINCT u AS node, 0 AS hops FROM sym "
        f"WHERE u % {BFS_SEED_MOD} = 0)",
    ]
    for i in range(1, BFS_ROUNDS + 1):
        parts.append(
            f"r{i} AS (SELECT node, MIN(hops) AS hops FROM ("
            f"SELECT node, hops FROM r{i - 1} "
            f"UNION ALL "
            f"SELECT s.v AS node, r.hops + 1 AS hops "
            f"FROM r{i - 1} r JOIN sym s ON s.u = r.node"
            ") GROUP BY node)"
        )
    return (
        ", ".join(parts)
        + f" SELECT node AS doc_id, hops FROM r{BFS_ROUNDS}"
    )


@register(
    "g06_bfs_hops",
    oracle=_bfs_oracle(),
    note=f"G6 multi-source BFS ({BFS_ROUNDS} relaxation rounds, seeds "
    f"= nodes with doc_id % {BFS_SEED_MOD} == 0): hop distance from "
    "the nearest seed over the d02 near-dup graph — reachability/"
    "contamination radius (how many similarity hops separate a "
    "document from a known-bad seed set; n19's decontamination "
    "extended transitively). The fifth instantiation of the edges-"
    "partitioned-once loop (g01 sum, g02 majority, g03 normalize, "
    "g05 peel, g06 RELAX): each round is one edge join + one MIN "
    "aggregation, shuffling only the node-sized frontier table. "
    "All-integer arithmetic — no float policy needed; the oracle "
    "unrolls the rounds as chained CTEs (house rule: no aggregation-"
    "in-recursion, portable across engines).",
)
def g06_bfs_hops(spark: SparkSession, sf_dir: str):
    pairs = d02_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sym = _sym_edges(pairs)
    dist = (
        sym.select(F.col("u").alias("node"))
        .filter(F.col("node") % BFS_SEED_MOD == 0)
        .distinct()
        .withColumn("hops", F.lit(0))
    )
    prev = None
    for _ in range(BFS_ROUNDS):
        frontier = sym.join(dist, sym["u"] == dist["node"]).select(
            F.col("v").alias("node"), (F.col("hops") + 1).alias("hops")
        )
        new_dist = (
            dist.unionByName(frontier)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint()
        )
        if prev is not None:
            release_local_checkpoint(prev)
        prev = dist = new_dist
    return dist.select(F.col("node").alias("doc_id"), "hops")
