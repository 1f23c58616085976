"""The bucket-pair operator every near-dup query is built on: group
rows by a bucket key, then emit every i<j pair inside each bucket.

`bucket_pairs` owns the whole pair-emission policy — sorted items,
i<j, NULL keys never pair, what counts as an oversized bucket and how
the optional `max_bucket` cap drops it. `oversized_buckets` is the
audit a capped caller surfaces. `hamming_pairs` is the pigeonhole-band
composition shared by the hamming near-dup family (d06 simhash, mm15
image dhash).

A pair inside the hamming threshold can agree on SEVERAL bands, so
bucket-local emission produces it once per agreeing band.
Deduplicating those re-emissions with a trailing ``.distinct()``
costs a hash aggregate keyed by PAIR — in-memory state proportional
to the candidate-pair space (measured: 3.5 GB heap and a 95M-row
extra exchange at d06's 100x bucket-count probe). Because the
members' FULL fingerprints already ride in the bucket (the hamming
verify needs them), band agreement for ANY band is a row-local
bitwise recomputation — so each pair is kept only in its lowest
agreeing band instead: every qualifying pair appears exactly once by
construction, no pair-keyed state, one less exchange. d02 (minhash
LSH) deliberately does NOT do this: its band keys are md5 digests of
signature slices that do not ride in the bucket, so the equivalent
check would put a ~15x payload on the collect path — its
output-pair-keyed spillable ``.distinct()`` is the better trade (see
nlp._pairs_from_bands).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def band_key(hash_col: Column, band: int, band_bits: int) -> Column:
    """Band `band`'s bucket key: bits [band*band_bits, (band+1)*band_bits)
    of the integer fingerprint — the expression `hash_bands` explodes,
    so the first-band check below can never drift from the bucketing
    itself."""
    return F.shiftright(hash_col, band * band_bits).bitwiseAND(
        F.lit((1 << band_bits) - 1)
    )


def first_agreeing_band_only(
    band_col: Column, hash_a: Column, hash_b: Column,
    n_bands: int, band_bits: int,
) -> Column:
    """Predicate: TRUE iff `band_col` is the LOWEST band on which the
    two fingerprints agree — i.e. no band jj < band_col also agrees.

    Applied to bucket-local pairs (which by construction agree on
    `band_col`), this keeps each qualifying pair exactly once across
    all its agreeing bands, replacing a pair-keyed ``.distinct()``
    with a row-local bitwise check.
    """
    keep = F.lit(True)
    for jj in range(n_bands - 1):
        agree = band_key(hash_a, jj, band_bits) == band_key(
            hash_b, jj, band_bits
        )
        keep = keep & ~((band_col > jj) & agree)
    return keep


def _non_null_keys(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    for k in key_cols:
        df = df.where(F.col(k).isNotNull())
    return df


def oversized_buckets(
    df: DataFrame, key_cols: Sequence[str], max_bucket: int
) -> DataFrame:
    """(key..., bucket_size) rows for the buckets a `max_bucket` cap
    drops from `bucket_pairs` — the audit a capped caller must
    surface (see `bucket_pairs`)."""
    return (
        _non_null_keys(df, key_cols)
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket)
    )


def drop_oversized_buckets(
    df: DataFrame, key_cols: Sequence[str], max_bucket: int
) -> DataFrame:
    """`df`'s rows with a non-NULL key, minus every member row of the
    buckets `oversized_buckets` reports — the cap of `bucket_pairs`,
    for callers that also need the capped rows themselves."""
    if max_bucket < 2:
        raise ValueError(
            f"max_bucket must be >= 2, got {max_bucket} — a cap "
            "below 2 drops every pair-generating bucket"
        )
    df = _non_null_keys(df, key_cols)
    hot = oversized_buckets(df, key_cols, max_bucket).select(*key_cols)
    return df.join(F.broadcast(hot), list(key_cols), "left_anti")


def bucket_pairs(
    df: DataFrame,
    key_cols: Sequence[str],
    item: str | Column,
    max_bucket: int | None = None,
) -> DataFrame:
    """(key..., a, b): one row per i<j pair of the sorted `item`
    values that share a bucket key.

    Pair generation is one groupBy on the key, NOT a self-join: Spark
    plans a self-join of an expensive subtree as TWO full evaluations
    of it, while grouping shuffles the keyed rows once and emits the
    pairs bucket-locally from the sorted item array. Work per bucket
    is O(bucket^2); the pair space is O(sum bucket^2), never all-pairs.

    A NULL key carries no bucketing information and never pairs — the
    SQL equi-join rule every oracle spells (NULL = NULL is not true).
    Dropping it also keeps a NULL bucket from slipping past the cap's
    left_anti, which never matches a NULL key.

    `max_bucket` is the adversarial-skew guard: a hot key — thousands
    of byte-identical documents, a near-collinear embedding corpus, a
    viral frame — concentrates O(bucket^2) pair emission in ONE task
    (C(100k, 2) = 5e9 pairs from a single group). A bucket with more
    than `max_bucket` members is a duplicate CLUSTER, better handled
    by exact grouping than by pairwise verification, so the cap drops
    it BEFORE the collect_list: a count pre-pass over the key alone
    (`oversized_buckets`, so cap and audit cannot diverge) broadcasts
    the hot keys into a left_anti. Reducer-resident state is then
    <= max_bucket x item on any corpus. Callers that cap MUST surface
    `oversized_buckets` — silent truncation reads as full coverage.
    A cap below 2 raises ValueError; None keeps every bucket.
    """
    if max_bucket is None:
        df = _non_null_keys(df, key_cols)
    else:
        df = drop_oversized_buckets(df, key_cols, max_bucket)
    buckets = (
        df.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(item)).alias("xs"))
        .filter(F.size("xs") > 1)
    )
    return buckets.select(
        *key_cols, F.posexplode("xs").alias("pos", "a"), "xs"
    ).select(
        *key_cols,
        "a",
        F.explode(
            F.slice(F.col("xs"), F.col("pos") + 2, F.size("xs"))
        ).alias("b"),
    )


def hash_bands(
    df: DataFrame, id_col: str, hash_col: str, n_bands: int, band_bits: int
) -> DataFrame:
    """(id, hash, band, bkey): one row per (row, band) of an integer
    fingerprint — the frame `hamming_pairs` buckets and a capped
    caller audits with `oversized_buckets(..., ("band", "bkey"), cap)`."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                band_key(F.col(hash_col), b, band_bits).alias("bkey"),
            )
            for b in range(n_bands)
        ]
    )
    return df.select(id_col, hash_col, F.explode(bands).alias("b")).select(
        id_col, hash_col, "b.band", "b.bkey"
    )


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    n_bands: int,
    band_bits: int,
    k: int,
    max_bucket: int | None = None,
) -> DataFrame:
    """(a, b, hamming): every id pair a < b whose fingerprints differ in
    at most `k` bits. With k < n_bands, a qualifying pair agrees
    exactly on at least one band (pigeonhole), so candidates come from
    band buckets and each is kept only in its lowest agreeing band.

    Under `max_bucket` a pair survives iff its LOWEST agreeing band's
    bucket is under the cap: if that band is hot the pair is never
    emitted there, and every higher agreeing band's emission fails
    the lowest-band check — the pair is dropped WITH its hot cluster.
    """
    pairs = bucket_pairs(
        hash_bands(df, id_col, hash_col, n_bands, band_bits),
        ("band", "bkey"),
        F.struct(id_col, hash_col),
        max_bucket,
    )
    ha, hb = F.col(f"a.{hash_col}"), F.col(f"b.{hash_col}")
    ham = F.bit_count(ha.bitwiseXOR(hb))
    return (
        pairs.filter(
            first_agreeing_band_only(F.col("band"), ha, hb, n_bands, band_bits)
        )
        .select(
            F.col(f"a.{id_col}").alias("a"),
            F.col(f"b.{id_col}").alias("b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
    )
