"""Adversarial-skew probe for the bucket-pair cap, run on mm15's
image dhash bands.

The claim under test: with `max_bucket` set on
banding.bucket_pairs (here through mm15's banding.hamming_pairs),
reducer-resident state on the bucket-pair path is bounded by
max_bucket x payload ON ANY CORPUS —
in particular, one PLANTED viral bucket (a hot frame hash / band key
/ frequency bin with N members) must not grow heap or wall as N
grows, because the count pre-pass + broadcast left_anti drops the
bucket BEFORE the collect_list ever materializes it.

Design: a fixed background corpus of synthetic 56-bit dhashes sized
so its band buckets sit UNDER the cap (the probe isolates the skew
axis — background pair work is constant by construction), plus one
planted cluster of N identical dhashes (every band bucket hot).
Sweep N across two orders of magnitude for the capped spelling; run
the uncapped spelling only at the smallest N as the quadratic
reference (its output is C(N,2) pairs — at N=1e6 that is 5e11 pairs,
which is the infeasibility the cap exists to remove, so "uncapped at
large N" is adjudicated by arithmetic, not executed). Pair outputs
fold into one executor-side (count, checksum) row (the scale_probe
--agg-sink convention) so the probe measures the operator, not a
driver transfer.

Usage:
    python tools/skew_probe.py [--background 2000] [--cap 16]
                               [--hot 10000,100000,1000000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from tools.scale_probe import heap_used_mb, n_exchanges  # noqa: E402


def _dh_table(spark, background: int, hot: int):
    """Background images with content-derived pseudo-random 56-bit
    dhashes (band buckets ~background/256 members — under the cap for
    the default 2000) + `hot` planted rows sharing ONE dhash (every
    band bucket oversized). Generated executor-side via range()."""
    from pyspark.sql import functions as F

    # consecutive ids share a base hash with bit 0 flipped on the odd
    # side: background/2 genuine near-pairs (hamming 1, lowest
    # agreeing band 1) that must SURVIVE the cap at every hot-bucket
    # size — the capped pair count is the constancy check
    bg = spark.range(background).select(
        F.col("id").alias("media_id"),
        F.xxhash64((F.col("id") / 2).cast("long"))
        .bitwiseAND(F.lit((1 << 56) - 1))
        .bitwiseXOR((F.col("id") % 2).cast("long"))
        .alias("dhash"),
    )
    hot_hash = 0x0123456789ABCD
    planted = spark.range(hot).select(
        (F.col("id") + 10_000_000).alias("media_id"),
        F.lit(hot_hash).alias("dhash"),
    )
    return bg.unionByName(planted)


def _run(spark, dh, max_bucket):
    from pyspark.sql import functions as F

    from big_data_bowl_spark.queries.multimodal import _mm15_pairs

    t0 = time.time()
    out = _mm15_pairs(dh, max_bucket=max_bucket)
    agg = out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.xxhash64(*out.columns).cast("decimal(38,0)")
        ).alias("checksum"),
    )
    row = agg.collect()[0]
    wall = time.time() - t0
    return {
        "wall_s": round(wall, 2),
        "pairs": int(row["n_rows"]),
        "exchanges": n_exchanges(agg),
        "heap_mb": heap_used_mb(spark),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--background", type=int, default=2000)
    ap.add_argument("--cap", type=int, default=16)
    ap.add_argument(
        "--hot", default="10000,100000,1000000",
        help="comma-separated planted hot-bucket sizes",
    )
    args = ap.parse_args()
    hots = [int(x) for x in args.hot.split(",")]

    from big_data_bowl_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    results = {"background": args.background, "cap": args.cap}
    # uncapped reference at the smallest N: the quadratic baseline
    # (C(N,2) pairs from the planted bucket alone)
    n0 = hots[0]
    dh = _dh_table(spark, args.background, n0).localCheckpoint()
    results[f"uncapped_hot_{n0}"] = _run(spark, dh, None)
    results[f"capped_hot_{n0}"] = _run(spark, dh, args.cap)
    dh.unpersist()
    for n in hots[1:]:
        dh = _dh_table(spark, args.background, n).localCheckpoint()
        results[f"capped_hot_{n}"] = _run(spark, dh, args.cap)
        dh.unpersist()
    print(json.dumps(results, indent=2))


if __name__ == "__main__":
    main()
