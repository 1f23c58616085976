"""Distributed connected components — dedup canonicalization.

Near-dup detection (queries/nlp.py d02/d03) emits PAIRS; an actual
dedup pass needs the transitive closure of those pairs so every
cluster keeps exactly one canonical document. This operator labels
each node with the minimum node id reachable from it.

Algorithm: min-label propagation with pointer jumping ("hash-to-min",
Rastogi et al., "Finding Connected Components in Map-Reduce in
Logarithmic Rounds", ICDE 2013). Each round, every node takes the min
label over {itself} ∪ {graph neighbors} ∪ {its current label's
neighbors} — the label-pointer edges double the effective path length
per round, so convergence is O(log d) rounds on diameter-d
components, not O(d). Each round is one shuffle join + one min
aggregation — plain Catalyst primitives, no RDDs.

Scale notes (100 TB):
- Labels only ever DECREASE, and never below the true component min,
  so the fixpoint is exact; convergence is detected with a cheap
  count of changed labels (an action per round — unavoidable for any
  data-dependent iteration).
- `localCheckpoint` truncates the per-round lineage; without it round
  k re-evaluates all k-1 predecessors (and the upstream edge
  pipeline) from scratch.
- Near-dup graphs are benign inputs: LSH buckets emit cliques, so
  components have tiny diameter and 2-3 rounds settle them. For
  adversarial long-chain graphs at extreme scale, the same join
  primitive supports the large-star/small-star contraction of
  Kiveris et al. (MapReduce '14); hash-to-min is preferred here for
  its simpler invariant.

The reference repo has no graph operator; this extends its dedup
story per BASELINE.md's north star.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def release_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint'd DataFrame's storage blocks NOW.

    ``Dataset.unpersist`` only consults the CacheManager, but
    ``localCheckpoint`` persists the physical-plan RDD directly and
    never registers it there — so ``df.unpersist()`` on a checkpointed
    frame is a no-op and the blocks live until the ContextCleaner GCs
    the RDD (ADVICE r15). The checkpointed Dataset's analyzed plan is
    a ``LogicalRDD`` holding that exact RDD; unpersisting at the RDD
    level (non-blocking) is what actually releases the memory —
    verified against ``sc.getRDDStorageInfo`` before/after. Falls back
    to eventual ContextCleaner cleanup if the py4j surface shifts —
    but LOUDLY (r16 review finding): a silent pass on a
    non-checkpointed or derived frame (whose analyzed plan is not a
    LogicalRDD, so there is no RDD handle to release) would re-create
    the invisible O(rounds x nodes) block leak this helper exists to
    fix. Callers must pass the localCheckpoint() result itself, not a
    projection of it.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.getClass().getSimpleName().startswith("LogicalRDD"):
            warnings.warn(
                "release_local_checkpoint: analyzed plan is "
                f"{plan.getClass().getSimpleName()}, not LogicalRDD — "
                "pass the localCheckpoint() result itself; nothing "
                "was released (blocks now wait for ContextCleaner GC)",
                RuntimeWarning,
                stacklevel=2,
            )
            return
        plan.rdd().unpersist(False)
    except Exception as exc:
        # Same loudness as the misuse path above (ADVICE r16): this
        # guard exists for py4j-surface drift across Spark versions,
        # and a silent pass here would revive the invisible
        # O(rounds x nodes) block leak the helper was written to
        # close — the caller keeps running, only slower and fatter,
        # which is exactly the failure mode that must not be quiet.
        warnings.warn(
            "release_local_checkpoint: RDD-level unpersist failed "
            f"({type(exc).__name__}: {exc}) — the py4j surface may "
            "have shifted; nothing was released (blocks now wait "
            "for ContextCleaner GC)",
            RuntimeWarning,
            stacklevel=2,
        )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """Label every node of the undirected pair graph with its
    component's minimum node id.

    Returns DataFrame[node, comp]. Nodes appear only if they occur in
    `edges`; callers attach singletons with a left join + coalesce.
    """
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).where(F.col("u") != F.col("v"))
    # NO .distinct() on the edge list (r15 — found by the e05 100x
    # probe OOMing an 8 GB driver heap in exactly this
    # materialization): min-label propagation is duplicate-
    # insensitive (min over a multiset equals min over its set), so
    # deduplicating edges buys nothing semantically, while its
    # map-side hash aggregation holds state keyed by EDGE — at the
    # 100x design point ~20M (u,v) entries across every concurrent
    # task, the largest transient allocation anywhere in the dedup
    # chain. Without it every aggregation in this operator is keyed
    # by NODE (bounded by |V|, not |E|) and sym materializes as a
    # narrow no-shuffle pipeline. In-repo edge feeds are already
    # pair-distinct by construction (LSH emits i<j pairs once — d02
    # distincts its banded pairs, v03 buckets are disjoint); a
    # caller with a genuinely duplicate-heavy edge stream pays extra
    # join rows per round and should pre-distinct at its own
    # (edge-keyed) cost, consciously.
    sym = (
        sym.unionByName(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # evaluated once here, reused every round — without this the
        # upstream pipeline (e.g. the whole LSH candidate generation)
        # would re-run inside every iteration
        .localCheckpoint()
    )
    # init = one propagation step folded in: label(node) = min({node} ∪
    # neighbors). Same single shuffle a bare distinct() would cost, but
    # LSH-clique-shaped graphs (the common near-dup case) converge at
    # init, so the loop's first round is usually the no-change confirm
    # — one fewer join+checkpoint round end-to-end.
    labels = (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("nbr"))
        .select(
            "node", F.least(F.col("node"), F.col("nbr")).alias("comp")
        )
        # LAZY checkpoint: the agreement check below is an action over
        # this frame, so it fills the checkpoint as a side effect (one
        # fewer eager job per call, 7 -> 6 jobs). Its two references lu
        # and lv may both compute the node-sized init groupBy before
        # the checkpoint fills; that is accepted, since both read the
        # persisted sym. sym stays EAGER: it is referenced by labels
        # AND the check join, and a lazy sym would let the two branches
        # race to compute the whole upstream LSH chain twice in one job.
        .localCheckpoint(eager=False)
    )
    # Converged-at-init fast path (r15): LSH near-dup graphs are
    # clique-shaped per bucket, and for any component whose minimum
    # node is a neighbor of every other member (cliques, stars), the
    # init fold above IS the fixpoint. Detect it with one edge-level
    # agreement check — comp(u) == comp(v) on every edge implies comp
    # is constant per component, and the component-min m always has
    # comp(m) = m (labels never go below the true min and
    # min(m ∪ N(m)) = m), so the constant is the min: converged.
    # Cost: one join + isEmpty on node-sized tables, against the full
    # pointer-jump round (3-way edge union + join + groupBy + join +
    # localCheckpoint + isEmpty) the loop would otherwise spend just
    # to confirm no change — the common near-dup case pays the check
    # and skips the round; a genuinely deep graph pays the check once
    # and enters the loop as before.
    lu = labels.select(F.col("node").alias("u"), F.col("comp").alias("uc"))
    lv = labels.select(F.col("node").alias("v"), F.col("comp").alias("vc"))
    if (
        sym.join(lu, "u")
        .join(lv, "v")
        .where(F.col("uc") != F.col("vc"))
        .isEmpty()
    ):
        # labels is independently checkpointed — release the edge
        # list's storage blocks before returning (r15: they are the
        # operator's largest pinned footprint and nothing downstream
        # reads them); RDD-level, since Dataset.unpersist is a no-op
        # on checkpointed frames (ADVICE r16)
        release_local_checkpoint(sym)
        return labels

    stepped = None
    for _ in range(max_rounds):
        # pointer-jumping edges: node <-> its current label
        ptr = labels.select(
            F.col("node").alias("u"), F.col("comp").alias("v")
        )
        msg_edges = sym.unionByName(ptr).unionByName(
            ptr.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        nbr_min = (
            msg_edges.join(
                labels.select(
                    F.col("node").alias("u"), F.col("comp").alias("ucomp")
                ),
                "u",
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("ucomp").alias("nbr"))
        )
        prev_ckpt = stepped
        stepped = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("comp").alias("old"),
                F.least(
                    F.col("comp"), F.coalesce("nbr", "comp")
                ).alias("comp"),
            )
            # LAZY: the convergence isEmpty below is the round's
            # action and materializes this round's checkpoint as a
            # side effect (r18 — one eager job saved per round, same
            # truncated lineage). The release of the PREVIOUS round's
            # blocks stays safe: that frame was materialized by the
            # previous round's isEmpty before it is released here.
            .localCheckpoint(eager=False)
        )
        labels = stepped.select("node", "comp")
        done = stepped.where(F.col("comp") != F.col("old")).isEmpty()
        # release the SUPERSEDED round's checkpointed blocks: without
        # this, a long run pins O(rounds x nodes) storage (review r7;
        # RDD-level since r16 — Dataset.unpersist never freed them)
        if prev_ckpt is not None:
            release_local_checkpoint(prev_ckpt)
        if done:
            break
    else:
        # exhausting max_rounds with labels still moving means the
        # returned labels are PARTIAL — downstream canonicalization
        # would silently split clusters, so make it loud
        warnings.warn(
            "connected_components stopped after "
            f"max_rounds={max_rounds} without reaching the fixpoint; "
            "labels are partially converged — raise max_rounds",
            RuntimeWarning,
            stacklevel=2,
        )
    # same storage release as the fast path: the final labels are
    # checkpointed (stepped), sym is dead weight from here on
    release_local_checkpoint(sym)
    return labels
