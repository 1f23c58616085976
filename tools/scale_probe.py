"""10x scale probe for the most expensive pipelines (VERDICT r6 item
6; extended per VERDICT r7 item 6): guard against local[32]-only
tuning by MEASURING how e03 (field control), e04 (corpus curation),
e05 (embedding index), m10 (depth-2 tree), n21 (BPE tokenize) and
g03 (HITS) behave when their input grows 10x.

Method: explode sf0.1's events/documents/embeddings by --factor with
id offsets (replica r shifts ids by r * 10^9, so keys stay unique
while low-order modular structure — selectivities, feature formulas —
is preserved in expectation), write the exploded lake to a temp dir,
then run each pipeline at 1x and Nx through full materialization
(count(), so every stage executes) and compare:

- wall_ratio vs factor: sub-linear => fixed overheads amortize; the
  interesting red flag is wall_ratio >> factor (a super-linear stage).
- exchanges at 1x vs Nx: the plan SHAPE must be scale-invariant —
  the same number of shuffles, no new single-partition exchange
  smuggled in by a size-triggered strategy change.

Usage: python tools/scale_probe.py [--factor 10] [--sf DIR] [--md]
(--md prints the SCALE.md table block). Results land on stdout; the
probe lake lives in a TemporaryDirectory and is deleted on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

ID_OFFSET = 10**9
TABLES = {
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    # l_orderkey is not unique per row, but the probe only needs keys
    # distinct ACROSS replicas (so nothing collapses); within-replica
    # duplicate structure is part of the data being scaled
    "lineitem": "l_orderkey",
    # round 10: j13 (fuzzy match) reads customer. NOTE the replica
    # explode duplicates c_name 10x (only the key shifts), so exact-
    # recall fuzzy pairs grow density-squared like mm15/j12 — the
    # probe measures plan stability, wall tracks output rows.
    "customer": "c_custkey",
}
PIPELINES = [
    "e03_field_control_season",
    "e04_corpus_curation",
    "e05_embedding_index_pipeline",
    # round-8 additions (VERDICT r7 item 6): the three most expensive
    # non-probed queries of round 7
    "m10_depth2_tree",
    "n21_bpe_tokenize",
    "g03_hits_neardup",
    # round-9 additions: batch + streaming histogram (constant-size
    # shuffle claim), z-order layout (write-path repartitionByRange)
    "a21_grouped_histogram",
    "t26_streaming_histogram",
    "s14_zorder_locality",
    # round-9 batch 2: spatial radius join (pair count tracks point
    # DENSITY squared — the replica probe raises density, not extent,
    # so wall tracks output rows; see SCALE.md), PMI pair explosion,
    # BFS over the 10x near-dup graph
    "j12_grid_radius_join",
    "n23_pmi_cooccurrence",
    "g06_bfs_hops",
    # round-9 batch 3: survivorship over the 10x components fixpoint,
    # hybrid retrieval (two retrievers + k-vs-k fusion)
    "d11_canonical_survivor",
    "v14_hybrid_rrf_search",
    # round-10 batch (VERDICT r9 item 7): cumulative/streaming reach
    # (per-user MIN fold should be textbook sub-linear) and the
    # perceptual near-dup triad (fingerprints computed in the decode
    # scan; only 8-16 byte fingerprints shuffle into banded buckets)
    "t31_cumulative_reach",
    "t33_streaming_reach",
    "mm15_image_dhash_neardup",
    "mm16_video_frame_neardup",
    "mm17_audio_fingerprint_neardup",
    # round-10 batch 2: the round's registrations (j13's exact-recall
    # pairs are density-squared under the replica lake — see TABLES
    # note; d12's delta join, n24's candidate-only calibration and
    # t34's per-(user, event_type) count fold should all be
    # plan-stable)
    "j13_fuzzy_match_deletion_blocking",
    "t34_stateful_type_counts",
    "d12_incremental_lsh_maintenance",
    "n24_minhash_calibration",
    # round-10 batch 3: timer sessionization (O(1) state + one
    # event-time timeout per key; the fold is the only data-sized stage)
    "t35_timer_closed_sessions",
    # round-10 batch 4: scan-bound audits (2-row / 5-row outputs)
    "o13_temporal_split",
    "u06_grouped_agg_pandas_udf",
    # round-11 batch: the production approx twins — a09b's grouped
    # percentile_approx sketch (mergeable, map-side combinable, the
    # point of the swap) and m13's approx-trained ensemble (same
    # 5-scan layout as m11; the threshold aggregate is the only delta)
    "a09b_grouped_quantiles_approx",
    "m13_bagged_ensemble_approx",
    # round-12 batch: the capped fuzzy production spellings. The
    # replica lake duplicates c_name 10x (only keys shift), so
    # blocking-bucket SIZE grows 10x — exactly the density regime
    # the cap exists for: the uncapped spellings' pair output grows
    # density-squared (j13's r10 probe measured that), the capped
    # ones route every now-oversized bucket to the audit facet and
    # stay ~input-linear. The probe demonstrates the cap IS the
    # 100 TB safety valve, not just a pytest prop.
    "j11b_fuzzy_capped_audit",
    "j13b_fuzzy_capped_audit",
]


def build_probe_lake(
    spark, sf_dir: str, out_dir: str, factor: int, tables=None
):
    from pyspark.sql import functions as F

    for table, key in TABLES.items():
        if tables is not None and table not in tables:
            continue
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        exploded = (
            df.withColumn(
                "_rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
            )
            .withColumn(
                key,
                F.col(key).cast("long")
                + F.col("_rep").cast("long") * F.lit(ID_OFFSET),
            )
            .drop("_rep")
        )
        exploded.write.mode("overwrite").parquet(
            f"{out_dir}/{table}.parquet"
        )


def build_key_exploded_events(spark, sf_dir: str, out_dir: str, factor: int):
    """The t35 timer-coalescing probe lake (VERDICT r10 item 7): the
    replica explode shifts USER ids (not event ids), so the key count
    — and therefore the number of live session states AND armed
    event-time timeouts —
    grows by `factor` while per-key event volume stays fixed. The
    default lake does the opposite (same keys, 10x events/key); this
    one stresses the per-key state and timeouts themselves: 100x keys
    means 100x timeouts re-armed per micro-batch, the axis
    a 100 TB user corpus actually grows along."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    exploded = (
        df.withColumn(
            "_rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        )
        .withColumn(
            "user_id",
            F.col("user_id").cast("long")
            + F.col("_rep").cast("long") * F.lit(ID_OFFSET),
        )
        .withColumn(
            "event_id",
            F.col("event_id").cast("long")
            + F.col("_rep").cast("long") * F.lit(ID_OFFSET),
        )
        .drop("_rep")
    )
    exploded.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")


def build_name_shifted_customers(
    spark, sf_dir: str, out_dir: str, factor: int
):
    """The fuzzy bucket-COUNT probe lake (r12): the default replica
    lake duplicates c_name verbatim, so blocking buckets grow in
    SIZE (the density axis the max_bucket cap defends against). This
    lake appends the replica index to the NAME as well as shifting
    the key, so every replica lands in its own prefix/deletion
    buckets: bucket count grows by `factor`, bucket sizes stay at
    base-corpus levels — the axis a 100 TB corpus with bounded
    per-entity duplication actually grows along, where the capped
    spellings must stay ~linear with the cap never engaging more
    than at 1x."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # Names are REGENERATED from replica-disjoint id ranges (20k
    # spacing holds every digit string inside %09d at any sane
    # factor) rather than suffixed: a suffix leaves j11's first-16
    # prefix untouched (buckets would grow in SIZE, the axis the
    # density probe already covers) and plants cross-replica
    # distance-1 pairs ("...-3" vs "...-7"). Disjoint digit ranges
    # keep per-replica bucket geometry identical to the base corpus;
    # the handful of cross-replica single-digit neighbors j13 can
    # legitimately reach stay O(digits) per name — linear corpus
    # growth, not quadratic.
    exploded = (
        df.withColumn(
            "_rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        )
        .withColumn(
            "c_name",
            F.format_string(
                "Customer#%09d",
                F.col("c_custkey").cast("long")
                + F.col("_rep").cast("long") * F.lit(20000),
            ),
        )
        .withColumn(
            "c_custkey",
            F.col("c_custkey").cast("long")
            + F.col("_rep").cast("long") * F.lit(ID_OFFSET),
        )
        .drop("_rep")
    )
    exploded.write.mode("overwrite").parquet(
        f"{out_dir}/customer.parquet"
    )


def build_word_salted_documents(
    spark, sf_dir: str, out_dir: str, factor: int
):
    """The text-dedup bucket-COUNT probe lake (r16, VERDICT r15
    item 1): the default replica lake duplicates document TEXT
    verbatim, so every content-derived bucket key (simhash bands,
    minhash bands, shingles) collides across replicas and bucket
    SIZE grows by `factor` — the density axis, on which any
    exact-recall near-dup query's OUTPUT is quadratic by semantics
    (d06 at 1x/sf0.1 emits 313k pairs; 100x duplication implies
    ~3e9). This lake instead suffixes every whitespace token with
    the replica index: a per-replica BIJECTIVE vocabulary remap, so
    within-replica pair structure stays base-corpus-shaped while
    hashes are replica-disjoint — bucket COUNT grows by `factor` at
    base bucket sizes, the axis a 100 TB corpus with bounded
    duplication actually grows along, where bucket-local pair
    emission must stay ~output-linear with reducer state bounded by
    base bucket size. (Hash values change under the remap, so
    per-replica output is statistically base-shaped, not
    bit-identical — rows_ratio ~ factor is the expectation, not an
    exact invariant.)"""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exploded = (
        df.withColumn(
            "_rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        )
        .withColumn(
            "text",
            F.regexp_replace(
                F.col("text"),
                F.lit(r"(\S+)"),
                F.concat(F.lit("$1r"), F.col("_rep").cast("string")),
            ),
        )
        .withColumn(
            "doc_id",
            F.col("doc_id").cast("long")
            + F.col("_rep").cast("long") * F.lit(ID_OFFSET),
        )
        .drop("_rep")
    )
    exploded.write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )


def n_exchanges(df) -> int:
    """Shuffle-exchange count from the FINAL adaptive plan.

    Two review-r7 fixes: (a) the plan must come from an execution of
    THIS DataFrame's own QueryExecution — df.count() builds a
    different plan and leaves this one at isFinalPlan=false, hiding
    exactly the AQE runtime re-planning the probe exists to compare;
    (b) \\bExchange\\b matches only the shuffle node, not
    BroadcastExchange/ReusedExchange, which share the substring.
    """
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b", plan))


def aqe_decisions(df) -> dict:
    """AQE runtime re-plan decisions from the FINAL plan, by mode:
    AQEShuffleRead nodes render as 'AQEShuffleRead local|coalesced|
    skewed' — the r13 100x probe records which decisions actually
    FIRE when the input grows two decades (VERDICT r12 item 4)."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    out: dict = {}
    for m in re.findall(r"AQEShuffleRead (\w+)", plan):
        out[m] = out.get(m, 0) + 1
    return out


def heap_used_mb(spark) -> int:
    """Driver+executor JVM used heap right after the run (local mode:
    one JVM, so this IS executor memory), sampled before GC can
    collect the shuffle/aggregate buffers."""
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return int((rt.totalMemory() - rt.freeMemory()) // 2**20)


def run_one(spark, name: str, sf_dir: str, agg_sink: bool = False):
    from big_data_bowl_spark.queries import REGISTRY

    t0 = time.time()
    df = REGISTRY[name].fn(spark, sf_dir)
    if agg_sink:
        # pair-output queries (d06, the perceptual triad) emit rows
        # proportional to the candidate-pair space — collecting them
        # would make the probe measure DRIVER TRANSFER, and at 100x
        # the transfer alone OOMs. Fold the full output into one
        # (count, checksum) row instead: every pair is still produced
        # and hashed executor-side, nothing rides to the driver, and
        # the wrapper is identical at both scales so plan comparison
        # stays like-for-like (the wrapped plan contains the query's
        # own subtree plus one fixed final aggregation).
        from pyspark.sql import functions as F

        df = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            # decimal(38,0): a long sum of billions of xxhash64
            # values overflows under ANSI mode; 38 digits absorb
            # ~1e19 rows' worth of max-magnitude hashes
            F.sum(
                F.xxhash64(*df.columns).cast("decimal(38,0)")
            ).alias("checksum"),
        )
        row = df.collect()[0]
        rows = int(row["n_rows"])
    else:
        # collect() executes df's own QueryExecution, finalizing ITS
        # adaptive plan (see n_exchanges); outputs here are small
        # (aggregated surfaces), so the driver transfer is bounded and
        # identical at both scales — a fair like-for-like timing
        rows = len(df.collect())
    wall = time.time() - t0
    return wall, rows, n_exchanges(df), aqe_decisions(df), heap_used_mb(
        spark
    )


def run_kmeans_fit_probe(spark, sf_dir: str, factor: int) -> None:
    """The iterative-trainer probe (VERDICT r13 item 5): kmeans_fit
    k=8 for a FIXED 5 rounds (tol=0 so convergence can't end the
    loop early and unbalance the comparison) at 1x and at factor-x,
    with per-round wall/collect/heap from the on_round hook.

    What "corpus never shuffles" must mean here, measurably:
    - checkpoint materialization (the one corpus-sized cost) scales
      ~linearly with the lake and happens ONCE, not per round;
    - every round collects exactly k x dim sufficient-statistic rows
      at BOTH scales (the driver-bound state is scale-invariant);
    - per-round wall is scan-bound (flat across rounds, ~linear in
      factor), with no growth round-over-round (no lineage/stage
      accumulation past the checkpoint).
    """
    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.kmeans import kmeans_fit

    def fit_instrumented(lake: str, tag: str) -> dict:
        emb = spark.read.parquet(f"{lake}/embeddings.parquet")
        # time the corpus-sized one-off separately: the SAME
        # projection + localCheckpoint kmeans_fit builds internally
        # (eager), on a throwaway to approximate materialization cost
        t0 = time.time()
        emb.select(
            F.col("vec_id").alias("vid"),
            F.col("embedding").cast("array<double>").alias("cv"),
        ).where(F.col("cv").isNotNull()).localCheckpoint().count()
        ckpt_s = time.time() - t0

        rounds = []
        marks = {"t": time.time()}

        def on_round(i, n_stat_rows, max_move):
            now = time.time()
            rounds.append(
                {
                    "round": i,
                    "wall_s": round(now - marks["t"], 2),
                    "stat_rows": n_stat_rows,
                    "heap_mb": heap_used_mb(spark),
                }
            )
            marks["t"] = now

        t1 = time.time()
        cent = kmeans_fit(
            emb, id_col="vec_id", k=8, max_iter=5, tol=0.0,
            on_round=on_round,
        )
        n_cells = cent.count()
        out = {
            "lake": tag,
            "ckpt_materialize_s": round(ckpt_s, 2),
            "fit_total_s": round(time.time() - t1, 2),
            "rounds": rounds,
            "model_cells": n_cells,
        }
        print(json.dumps(out))
        return out

    with tempfile.TemporaryDirectory(prefix="kmeans_probe_") as probe:
        build_probe_lake(
            spark, sf_dir, probe, factor, tables={"embeddings"}
        )
        r1 = fit_instrumented(sf_dir, "1x")
        rN = fit_instrumented(probe, f"{factor}x")
        stat_rows_1 = {r["stat_rows"] for r in r1["rounds"]}
        stat_rows_n = {r["stat_rows"] for r in rN["rounds"]}
        print(
            json.dumps(
                {
                    "probe": f"kmeans_fit k=8 x5 rounds @ {factor}x",
                    "ckpt_ratio": round(
                        rN["ckpt_materialize_s"]
                        / max(r1["ckpt_materialize_s"], 1e-9),
                        2,
                    ),
                    "fit_ratio": round(
                        rN["fit_total_s"] / max(r1["fit_total_s"], 1e-9), 2
                    ),
                    "stat_rows_flat_and_equal": stat_rows_1
                    == stat_rows_n
                    and len(stat_rows_1 | stat_rows_n) == 1,
                    "max_round_wall_s": max(
                        r["wall_s"] for r in rN["rounds"]
                    ),
                    "round_walls_Nx": [
                        r["wall_s"] for r in rN["rounds"]
                    ],
                }
            )
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--md", action="store_true")
    ap.add_argument(
        "--t35-keys",
        type=int,
        default=0,
        metavar="FACTOR",
        help="run the t35 timer-coalescing probe instead: explode "
        "events by FACTOR along the USER-ID axis (FACTORx keys => "
        "FACTORx live timeouts) and compare walls/plans",
    )
    ap.add_argument(
        "--keys-query",
        default="t35_timer_closed_sessions",
        help="which stateful query the --t35-keys lake drives "
        "(t34_stateful_type_counts probes the per-key count state: "
        "FACTORx users => FACTORx live (user, event_type) counts)",
    )
    ap.add_argument(
        "--fuzzy-buckets",
        type=int,
        default=0,
        metavar="FACTOR",
        help="run the fuzzy bucket-COUNT probe instead: replicate "
        "customers with per-replica names (FACTORx blocking buckets "
        "at unchanged bucket size) and compare the capped spellings' "
        "walls/plans on the healthy growth axis",
    )
    ap.add_argument(
        "--text-buckets",
        type=int,
        default=0,
        metavar="FACTOR",
        help="run the text-dedup bucket-COUNT probe instead: "
        "replicate documents with per-replica token-salted text "
        "(FACTORx content-derived buckets at base bucket sizes) and "
        "compare the pair family's walls/plans on the healthy growth "
        "axis; implies --agg-sink for the probed queries",
    )
    ap.add_argument(
        "--agg-sink",
        action="store_true",
        help="fold each query's output into one (count, checksum) "
        "row executor-side instead of collecting it — required for "
        "pair-output queries whose row count is the quantity under "
        "test (the driver transfer would otherwise dominate or OOM)",
    )
    ap.add_argument(
        "--kmeans-fit",
        type=int,
        default=0,
        metavar="FACTOR",
        help="run the iterative kmeans_fit probe instead (VERDICT "
        "r13 item 5): fit k=8 for a fixed 5 rounds on the 1x and "
        "FACTORx embeddings replicas, recording checkpoint "
        "materialization cost, per-round wall, per-round collected "
        "sufficient-statistic rows (must stay k x dim at BOTH "
        "scales) and used heap",
    )
    ap.add_argument(
        "--tables",
        default=None,
        help="comma-separated subset of the replica tables to build "
        "(default: all); at --factor 100 skipping lineitem/customer "
        "saves most of the lake-build time when the probed pipelines "
        "only read events/documents/embeddings",
    )
    ap.add_argument(
        "queries",
        nargs="*",
        help="subset of PIPELINES to probe (default: all)",
    )
    args = ap.parse_args()

    from big_data_bowl_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    if args.kmeans_fit:
        run_kmeans_fit_probe(spark, args.sf, args.kmeans_fit)
        return

    if args.t35_keys:
        name = args.keys_query
        # harvest each drain's final-micro-batch stateOperators
        # (VERDICT r16 item 4): numRowsTotal / memoryUsedBytes are
        # what the watermark left ALIVE after the availableNow
        # backlog drained — state ∝ live keys is a read-off of the
        # 1x vs Nx ratio, not an argument
        from big_data_bowl_spark.streaming import windows as W

        def state_ops(since: int):
            out = []
            for sink, ops in W.LAST_STATE_METRICS[since:]:
                for op in ops:
                    out.append(
                        {
                            "op": op.get("operatorName", "?"),
                            "state_rows": op.get("numRowsTotal"),
                            "state_bytes": op.get("memoryUsedBytes"),
                        }
                    )
            return out

        with tempfile.TemporaryDirectory(prefix="t35_keys_") as probe:
            build_key_exploded_events(
                spark, args.sf, probe, args.t35_keys
            )
            mark = len(W.LAST_STATE_METRICS)
            w1, r1, x1, a1, h1 = run_one(spark, name, args.sf)
            s1 = state_ops(mark)
            mark = len(W.LAST_STATE_METRICS)
            wN, rN, xN, aN, hN = run_one(spark, name, probe)
            sN = state_ops(mark)
            print(
                json.dumps(
                    {
                        "probe": f"{name} @ {args.t35_keys}x KEYS",
                        "wall_1x_s": round(w1, 2),
                        f"wall_{args.t35_keys}x_s": round(wN, 2),
                        "wall_ratio": round(wN / w1, 2),
                        "sessions_1x": r1,
                        f"sessions_{args.t35_keys}x": rN,
                        "rows_ratio": round(rN / r1, 2),
                        "exchanges": [x1, xN],
                        "plan_shape_stable": x1 == xN,
                        "state_1x": s1,
                        f"state_{args.t35_keys}x": sN,
                        "heap_mb": [h1, hN],
                    }
                )
            )
        return

    if args.text_buckets:
        f = args.text_buckets
        with tempfile.TemporaryDirectory(prefix="text_keys_") as probe:
            build_word_salted_documents(spark, args.sf, probe, f)
            for name in (args.queries or ["d06_simhash_neardup"]):
                w1, r1, x1, a1, h1 = run_one(
                    spark, name, args.sf, agg_sink=True
                )
                wN, rN, xN, aN, hN = run_one(
                    spark, name, probe, agg_sink=True
                )
                print(
                    json.dumps(
                        {
                            "probe": f"{name} @ {f}x TEXT BUCKETS",
                            "wall_1x_s": round(w1, 2),
                            f"wall_{f}x_s": round(wN, 2),
                            "wall_ratio": round(wN / w1, 2),
                            "rows_1x": r1,
                            f"rows_{f}x": rN,
                            "rows_ratio": round(rN / max(r1, 1), 2),
                            "exchanges": [x1, xN],
                            "plan_shape_stable": x1 == xN,
                            "heap_mb": [h1, hN],
                        }
                    )
                )
        return

    if args.fuzzy_buckets:
        f = args.fuzzy_buckets
        with tempfile.TemporaryDirectory(prefix="fuzzy_keys_") as probe:
            build_name_shifted_customers(spark, args.sf, probe, f)
            for name in (
                args.queries
                or ["j11b_fuzzy_capped_audit", "j13b_fuzzy_capped_audit"]
            ):
                w1, r1, x1, a1, h1 = run_one(spark, name, args.sf)
                wN, rN, xN, aN, hN = run_one(spark, name, probe)
                print(
                    json.dumps(
                        {
                            "probe": f"{name} @ {f}x BUCKETS",
                            "wall_1x_s": round(w1, 2),
                            f"wall_{f}x_s": round(wN, 2),
                            "wall_ratio": round(wN / w1, 2),
                            "rows_1x": r1,
                            f"rows_{f}x": rN,
                            "rows_ratio": round(rN / r1, 2),
                            "exchanges": [x1, xN],
                            "plan_shape_stable": x1 == xN,
                        }
                    )
                )
        return

    results = []
    with tempfile.TemporaryDirectory(prefix="scale_probe_") as probe:
        build_probe_lake(
            spark,
            args.sf,
            probe,
            args.factor,
            tables=set(args.tables.split(",")) if args.tables else None,
        )
        for name in (args.queries or PIPELINES):
            w1, r1, x1, a1, h1 = run_one(
                spark, name, args.sf, agg_sink=args.agg_sink
            )
            wN, rN, xN, aN, hN = run_one(
                spark, name, probe, agg_sink=args.agg_sink
            )
            results.append(
                {
                    "query": name,
                    "wall_1x_s": round(w1, 2),
                    f"wall_{args.factor}x_s": round(wN, 2),
                    "wall_ratio": round(wN / w1, 2),
                    "rows_1x": r1,
                    f"rows_{args.factor}x": rN,
                    "exchanges_1x": x1,
                    f"exchanges_{args.factor}x": xN,
                    "plan_shape_stable": x1 == xN,
                    "aqe_1x": a1,
                    f"aqe_{args.factor}x": aN,
                    "heap_mb_1x": h1,
                    f"heap_mb_{args.factor}x": hN,
                }
            )
            print(json.dumps(results[-1]))
    if args.md:
        f = args.factor
        print()
        print(
            f"| query | 1x wall | {f}x wall | ratio "
            f"| exchanges 1x/{f}x | plan stable |"
        )
        print("|---|---|---|---|---|---|")
        for r in results:
            print(
                f"| {r['query']} | {r['wall_1x_s']} s "
                f"| {r[f'wall_{f}x_s']} s | {r['wall_ratio']}x "
                f"| {r['exchanges_1x']}/{r[f'exchanges_{f}x']} "
                f"| {'yes' if r['plan_shape_stable'] else 'NO'} |"
            )


if __name__ == "__main__":
    main()
