"""Text-analysis + deduplication queries over the `documents` table.

North-star extensions (BASELINE.md): the operators a 100 TB training-
data pipeline needs — token/char stats, quality scoring, language ID,
fingerprinting, exact dedup, MinHash+LSH near-dup, SimHash, and n-gram
Jaccard verification. Everything is native Column expressions (no
Python UDFs); every "random" quantity derives from md5 so the DuckDB
oracle reproduces the result bit-for-bit.

Scale notes (the 100 TB story):
- Exact dedup = hash-groupBy on a 32-byte key: one shuffle of
  (key, doc_id), never of the text payload.
- MinHash/LSH: signatures are computed in a narrow map (explode-free
  higher-order functions over the shingle array); candidate pairs come
  from ONE groupBy on the band key with bucket-local i<j pair
  emission — complexity O(sum of bucket^2), never the all-pairs
  O(n^2) cross join, and the signature pipeline is evaluated once
  (a bucket self-join would evaluate it twice).
- SimHash: one narrow explode + one groupBy(doc_id) re-aggregation.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.banding import bucket_pairs, hamming_pairs
from ..functions.text import (  # noqa: F401
    shingles_from_tokens,
    tokenize,
    LANG_STOPWORDS,
    fingerprint,
    punct_ratio,
    quality_score,
    rolling_hash,
    stopword_hits,
    token_count,
    word_shingles,
)
from ..functions.hashing import hex_threshold
from .base import REGISTRY, dsum, dsum_sql, local_df, register, t, tf

# MinHash/LSH parameters: H hashes split into B bands of R rows.
# P[candidate | jaccard=s] = 1 - (1 - s^R)^B — with (H,B,R)=(8,4,2)
# the S-curve midpoint sits near s≈0.5, right for near-dup detection.
MINHASH_H = 8
LSH_BANDS = 4
LSH_ROWS = 2
SHINGLE_K = 3

# DuckDB mirrors of functions/text.py expressions -----------------------

_SQL_TOKENS = r"regexp_split_to_array(trim(lower(text)), '\s+')"
# Empty-doc guard (review r7): DuckDB's split of a trimmed empty
# string has length 1, but Spark token_count('') is 0 — guard the SQL
# side so empty/whitespace-only documents agree cross-engine.
_SQL_NTOK = (
    r"CASE WHEN length(trim(text)) = 0 THEN 0 "
    r"ELSE len(regexp_split_to_array(trim(text), '\s+')) END"
)


def _sql_shingle_ctes(k: int = SHINGLE_K) -> str:
    """DuckDB CTEs tk -> sh_t mirroring text.word_shingles."""
    parts = ", ".join(f"t[i+{j}]" for j in range(k))
    return (
        f"tk AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents), "
        f"sh_t AS (SELECT doc_id, "
        f"CASE WHEN len(t) < {k} THEN [array_to_string(t, ' ')] "
        f"ELSE list_transform(range(1, len(t) - {k - 1} + 1), "
        f"i -> concat_ws(' ', {parts})) END AS sh FROM tk)"
    )


# Each MinHash "seed" is a disjoint 4-hex-char slice of ONE md5 per
# shingle (slices of a good hash are independent uniform hashes, and
# MINHASH_H * 4 = 32 chars uses the whole digest). One digest per
# shingle instead of one per (shingle, seed) is an 8x saving on the
# dominant cost of signature computation; the extra collision mass of
# a 16-bit slice (~1/65536 per seed, squared per 2-row band) is
# negligible against Jaccard-scale probabilities. min over fixed-width
# lowercase hex strings == numeric min, identically in both engines.


def _sql_minhash(i: int) -> str:
    """DuckDB min-over-md5-slice for seed i, over the shingle list `hh`
    (pre-hashed shingles — see _sig_sql)."""
    return f"list_min(list_transform(hh, h -> substr(h, {i * 4 + 1}, 4)))"


def _spark_minhash(hashed_shingles, i: int):
    return F.array_min(
        F.transform(
            hashed_shingles, lambda h: F.substring(h, i * 4 + 1, 4)
        )
    )


# ---------------------------------------------------------------------------
# N: text analysis
# ---------------------------------------------------------------------------


@register(
    "n01_token_stats",
    oracle=f"""
    SELECT doc_id, {_SQL_NTOK} AS n_tokens,
           length(text) AS n_chars_text,
           CASE WHEN {_SQL_NTOK} = 0 THEN NULL
                ELSE CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                          AS DOUBLE) / {_SQL_NTOK} END AS mean_word_len
    FROM documents
    """,
    note="Token counting (whitespace tokenizer) + char stats — "
    "narrow projection, no shuffle",
)
def n01_token_stats(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    # explicit NULL for tokenless docs: engines disagree on x/0, so
    # neither side is allowed to reach the division
    mean_wl = F.when(n_tok == 0, F.lit(None).cast("double")).otherwise(
        F.length(F.regexp_replace("text", r"\s+", "")).cast("double")
        / n_tok
    )
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").alias("n_chars_text"),
        mean_wl.alias("mean_word_len"),
    )


@register(
    "n02_quality_score",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END
               AS n_tok,
             length(text) AS n,
             length(text)
               - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
             length(regexp_replace(text, '\s+', '', 'g')) AS n_word_chars
      FROM documents
    )
    SELECT doc_id,
           (least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)
            + (1.0 - least(
                 (CASE WHEN n = 0 THEN 0.0
                       ELSE CAST(n_punct AS DOUBLE) / n END) * 5.0,
                 1.0))
            + CASE WHEN (CASE WHEN n_tok = 0 THEN 0.0
                         ELSE CAST(n_word_chars AS DOUBLE) / n_tok END)
                        BETWEEN 2.0 AND 12.0
                   THEN 1.0 ELSE 0.0 END) / 3.0 AS quality
    FROM s
    """,
    note="Gopher/C4-style quality scoring (length saturation + punct "
    "sanity + mean word length), all in codegen — the oracle spells the "
    "identical IEEE expression tree so no rounding is needed",
)
def n02_quality_score(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


def _lang_hits_sql(words: tuple[str, ...]) -> str:
    # re.escape mirrors functions/text.py stopword_hits, so a word with
    # regex metacharacters counts identically in both engines.
    terms = " + ".join(
        rf"len(regexp_extract_all(lower(text), '\b{re.escape(w)}\b'))"
        for w in words
    )
    return f"({terms})"


_LANGS = sorted(LANG_STOPWORDS)
_LANG_ID_ORACLE = (
    "WITH h AS (SELECT doc_id, lang, "
    + ", ".join(
        f"{_lang_hits_sql(LANG_STOPWORDS[lang])} AS hits_{lang}"
        for lang in _LANGS
    )
    + " FROM documents), m AS (SELECT *, greatest("
    + ", ".join(f"hits_{lang}" for lang in _LANGS)
    + ") AS best FROM h) SELECT doc_id, lang, CASE "
    + " ".join(f"WHEN hits_{lang} = best THEN '{lang}'" for lang in _LANGS)
    + " END AS pred_lang FROM m"
)


def _pred_lang_expr() -> "F.Column":
    """The n03 stopword-hit argmax over `text` (ties -> lang code asc),
    as a reusable Column so compositions (e04) can evaluate it inline
    on their own documents scan instead of re-scanning via a join."""
    hits = {
        lang: stopword_hits(F.col("text"), LANG_STOPWORDS[lang])
        for lang in _LANGS
    }
    best = F.greatest(*hits.values())
    expr = None
    for lang in _LANGS:
        cond = hits[lang] == best
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr


@register(
    "n03_lang_id",
    oracle=_LANG_ID_ORACLE,
    note="Language ID via stopword-hit argmax (ties broken by lang code "
    "asc) — the n-gram heuristic shape; fastText et al. slot in behind "
    "the same column contract",
)
def n03_lang_id(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", _pred_lang_expr().alias("pred_lang"))


@register(
    "n04_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
             AS fingerprint
    FROM documents
    """,
    note="Document fingerprint: md5 of whitespace/case-normalized text — "
    "the exact-dedup key (32-byte shuffle payload, not the document)",
)
def n04_fingerprint(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "n05_punct_ratio",
    oracle=r"""
    SELECT doc_id,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(text)
                     - length(regexp_replace(text, '[^\w\s]', '', 'g'))
                     AS DOUBLE) / length(text) END AS punct_ratio
    FROM documents
    """,
    note="Punctuation-ratio quality signal",
)
def n05_punct_ratio(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", punct_ratio(F.col("text")).alias("punct_ratio"))


@register(
    "n07_rolling_hash_fingerprint",
    oracle=rf"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform({_SQL_TOKENS},
                 tkn -> CAST('0x' || substr(md5(tkn), 1, 12) AS BIGINT))),
             (acc, h) -> (acc * 31 + h) % 1000000007) AS rolling_fp
    FROM documents
    """,
    note="Order-sensitive polynomial rolling-hash fingerprint: fold "
    "(acc*31 + md5_48(token)) % 1e9+7 over the token stream. One "
    "narrow pass, constant per-doc state; complements the order-"
    "insensitive md5 fingerprint (n04) for exact-dedup keys",
)
def n07_rolling_hash(spark: SparkSession, sf_dir: str):
    d = tf(spark, sf_dir, "documents")
    # materialize tokens before the HOF lambdas (perf contract)
    toks = d.select("doc_id", tokenize(F.col("text")).alias("tok"))
    return toks.select(
        "doc_id", rolling_hash(F.col("tok")).alias("rolling_fp")
    )


# ---------------------------------------------------------------------------
# D: deduplication
# ---------------------------------------------------------------------------


@register(
    "d01_dedup_exact",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
      FROM documents
    )
    SELECT fingerprint, MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
    FROM fp GROUP BY fingerprint
    """,
    note="Exact dedup: hash-groupBy on the md5 fingerprint, keep the "
    "min doc_id per group. Shuffles (32-byte key, doc_id) only — at "
    "100 TB the text never moves",
)
def d01_dedup_exact(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _sig_sql() -> str:
    """DuckDB CTEs: documents -> shingles -> hashed shingles -> minhash
    signature m0..m{H-1}."""
    minhashes = ", ".join(f"{_sql_minhash(i)} AS m{i}" for i in range(MINHASH_H))
    return (
        f"WITH {_sql_shingle_ctes()}, "
        f"hsh AS (SELECT doc_id, sh, "
        f"list_transform(sh, s -> md5(s)) AS hh FROM sh_t), "
        f"sig AS (SELECT doc_id, {minhashes} FROM hsh)"
    )


def _bands_sql() -> str:
    selects = []
    for b in range(LSH_BANDS):
        cols = ", ".join(f"m{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        selects.append(
            f"SELECT doc_id, {b} AS band, "
            f"md5(concat_ws('|', '{b}', {cols})) AS bkey FROM sig"
        )
    return " UNION ALL ".join(selects)


_D02_ORACLE = (
    _sig_sql()
    + f", bands AS ({_bands_sql()}) "
    "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM bands a JOIN bands b "
    "ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id"
)


def _minhash_bands(d):
    """doc_id + exploded (band, bkey) rows from MinHash signatures.

    Shingles are materialized as a column FIRST so the split+transform
    runs once per row, not once per minhash seed (8x saving).
    """
    # tokens materialized FIRST: shingling references the token array
    # inside interpreted lambdas, so it must be a bound column, not an
    # inline split (see text.shingles_from_tokens performance contract)
    tok_df = d.select("doc_id", tokenize(F.col("text")).alias("tok"))
    sh_df = tok_df.select(
        "doc_id", shingles_from_tokens(F.col("tok"), k=SHINGLE_K).alias("sh")
    )
    return _bands_from_shingles(sh_df)


def _bands_from_shingles(sh_df):
    """(doc_id, sh) -> exploded (doc_id, band, bkey) LSH band rows."""
    hashed = sh_df.select(
        "doc_id", F.transform(F.col("sh"), F.md5).alias("hh")
    )
    sig = hashed.select(
        "doc_id",
        *[
            _spark_minhash(F.col("hh"), i).alias(f"m{i}")
            for i in range(MINHASH_H)
        ],
    )
    return _bands_from_sig(sig)


def _bands_from_sig(sig):
    """(doc_id, m0..m{H-1}) signature rows -> exploded (doc_id, band,
    bkey) LSH band rows — split out of _bands_from_shingles so callers
    that materialize the signature table for OTHER work (n24's
    calibration audit scores per-component agreement) band the same
    signatures instead of re-deriving them."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[
                            F.col(f"m{b * LSH_ROWS + r}")
                            for r in range(LSH_ROWS)
                        ],
                    )
                ).alias("bkey"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", "b.band", "b.bkey"
    )


@register(
    "d02_dedup_minhash_lsh",
    oracle=_D02_ORACLE,
    note=f"MinHash+LSH near-dup candidates: {MINHASH_H} md5-derived "
    f"minhashes -> {LSH_BANDS} bands x {LSH_ROWS} rows -> pairs emitted "
    "bucket-locally from ONE groupBy on the band hash. Complexity "
    "O(sum bucket^2), never all-pairs O(n^2); the single shuffle "
    "carries (band, bkey, doc_id) only, and the signature pipeline "
    "runs once (a self-join would run it twice)",
)
def d02_dedup_minhash_lsh(spark: SparkSession, sf_dir: str):
    d = tf(spark, sf_dir, "documents")
    return _pairs_from_bands(_minhash_bands(d))


def _pairs_from_bands(bands, max_bucket: int | None = None):
    """(doc_id, band, bkey) rows -> distinct candidate (doc_a, doc_b),
    from `banding.bucket_pairs` on the band key (its docstring states
    the emission and `max_bucket` cap policy; audit a cap with
    `banding.oversized_buckets(bands, ("band", "bkey"), cap)`).

    The trailing `.distinct()` is KEPT, deliberately: a pair agreeing
    on several bands is emitted once per band, and the first-agreeing-
    band emission d06/mm15 use instead would require every member to
    CARRY its earlier bands' md5 keys ((LSH_BANDS-1) x ~40 B per
    banded row — a 15x payload on the collect path) because, unlike
    d06/mm15, the band keys are not recomputable from what rides in
    the bucket. The distinct's state is keyed by OUTPUT pair (not an
    amplified intermediate), lives in a spillable shuffle aggregation
    (never a single task's resident array), and the duplication it
    removes is bounded by LSH_BANDS (measured 1.91x raw emissions over
    distinct pairs at sf0.1). Measured at the 100x bucket-count probe:
    wall 1.48x, plan stable 8/8 exchanges (SCALE.md).

    The bucket shuffle is NOT pinned against AQE coalescing (the
    `_fuzzy_blocked_pairs` pin, A/B-measured here): d02's own wall
    improved (1.50 -> 1.27 s warm) but every chain consumer regressed
    (n24 1.25 -> 1.61, d11 1.99 -> 2.36, e04 2.25 -> 2.60 — the tiny
    pair output then rides near-empty partitions through each
    consumer's further stages, paying task launch per stage that
    AQE's collapse avoided). At scale the banded table is large in
    bytes, so AQE sizes this exchange correctly on its own.
    """
    return (
        bucket_pairs(bands, ("band", "bkey"), "doc_id", max_bucket)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )


def _lsh_pairs_from_shingles(sh_df):
    """LSH candidate pairs derived from an already-materialized
    (doc_id, sh) shingle table — the reuse path for d03/d05/e04, where
    the same shingle table also feeds the Jaccard verify join."""
    return _pairs_from_bands(_bands_from_shingles(sh_df))


_D03_ORACLE = (
    _sig_sql()
    + f", bands AS ({_bands_sql()}), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM bands a JOIN bands b "
    "ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id) "
    "SELECT c.doc_a, c.doc_b, "
    "round(CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS DOUBLE) "
    "/ len(list_distinct(list_concat(sa.sh, sb.sh))), 9) AS jaccard "
    "FROM cand c "
    "JOIN sh_t sa ON c.doc_a = sa.doc_id "
    "JOIN sh_t sb ON c.doc_b = sb.doc_id "
    "WHERE CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS DOUBLE) "
    "/ len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5"
)


def _paired_candidate_shingles(spark: SparkSession, sf_dir: str):
    """Shared d03/n16 mechanics: materialized shingle table -> LSH
    candidate pairs -> two per-side shingle attach joins.

    The shingle table feeds BOTH the LSH candidate generation and the
    verify joins. Catalyst never reuses a subtree referenced from two
    join sides, so without materialization the tokenize->shingle
    pipeline (the dominant scan-side cost at corpus scale) would
    evaluate once PER REFERENCE. localCheckpoint evaluates it once
    per invocation (still inside every timed bench run — nothing is
    cached across calls), and every later reference — candidate
    generation, sh_a attach, sh_b attach — re-reads the checkpointed
    blocks instead of re-running the pipeline; a 100 TB deployment
    would persist(DISK_ONLY) or write the shingle table to the lake
    instead.

    Two joins, NOT a pair-group reassembly (r16 — found by the e04
    100x probe OOMing an 8 GB heap in exactly this stage): the old
    spelling exploded each pair into its two member ids, joined the
    shingle table once, and rebuilt (sh_a, sh_b) rows with a
    groupBy(doc_a, doc_b).agg(first(when(...))) — an aggregation
    KEYED BY PAIR whose buffers hold full shingle ARRAYS (UnsafeRow
    copies of the heaviest column in the chain; at 100x duplication
    density the partial-aggregation state across 32 tasks exhausted
    the heap in SortBasedAggregationIterator, stack pinned in
    SCALE.md r16). The two-join spelling is the v03 scoring-join
    pattern: the quadratic path carries ONLY ids; each side's array
    attaches by one shuffled-hash join against the checkpointed
    shingle table (hinted — Catalyst sizes the exploded pair side
    from its bucket parent and would otherwise try to broadcast the
    candidate set, the measured v03 failure). Per-task hash state is
    corpus/N_partitions shingle rows; pair rows stream as probe; the
    pair-sized exchange carrying one array per row is the operator's
    documented candidate-scoring cost (plan_audit.WEIGHT_ALLOWED
    d03/n16). Returns (doc_a, doc_b, sh_a, sh_b); only the scoring
    formula differs between the two callers (review r7 dedup).
    """
    d = tf(spark, sf_dir, "documents")
    shingle_tbl = (
        d.select("doc_id", tokenize(F.col("text")).alias("tok"))
        .select(
            "doc_id",
            shingles_from_tokens(F.col("tok"), k=SHINGLE_K).alias("sh"),
        )
        .localCheckpoint()
    )
    cand = _lsh_pairs_from_shingles(shingle_tbl)
    sa = shingle_tbl.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    sb = shingle_tbl.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    return cand.join(sa.hint("shuffle_hash"), "doc_a").join(
        sb.hint("shuffle_hash"), "doc_b"
    )


@register(
    "d03_ngram_jaccard_verify",
    oracle=_D03_ORACLE,
    note="n-gram (3-word shingle) Jaccard verification of the LSH "
    "candidates: set intersection/union on shingle arrays, threshold "
    "0.5. Only candidate pairs are scored — the verify join touches "
    "O(candidates) rows, not O(n^2)",
)
def d03_ngram_jaccard(spark: SparkSession, sf_dir: str):
    paired = _paired_candidate_shingles(spark, sf_dir)
    inter = F.size(F.array_distinct(F.array_intersect("sh_a", "sh_b")))
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    jac = inter.cast("double") / union
    return paired.filter(jac >= 0.5).select(
        "doc_a", "doc_b", F.round(jac, 9).alias("jaccard")
    )


_N16_ORACLE = (
    _sig_sql()
    + f", bands AS ({_bands_sql()}), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM bands a JOIN bands b "
    "ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id), "
    "scored AS (SELECT c.doc_a, c.doc_b, "
    "len(list_distinct(list_intersect(sa.sh, sb.sh))) AS n_inter, "
    "len(list_distinct(sa.sh)) AS n_a, "
    "len(list_distinct(sb.sh)) AS n_b "
    "FROM cand c "
    "JOIN sh_t sa ON c.doc_a = sa.doc_id "
    "JOIN sh_t sb ON c.doc_b = sb.doc_id) "
    "SELECT doc_a, doc_b, "
    "round(CAST(n_inter AS DOUBLE) / n_a, 9) AS containment_ab, "
    "round(CAST(n_inter AS DOUBLE) / n_b, 9) AS containment_ba "
    "FROM scored "
    "WHERE greatest(CAST(n_inter AS DOUBLE) / n_a, "
    "CAST(n_inter AS DOUBLE) / n_b) >= 0.6"
)


@register(
    "n16_shingle_containment",
    oracle=_N16_ORACLE,
    note="N16 asymmetric shingle containment over the LSH candidates: "
    "C(A,B) = |A \u2229 B| / |A| in both directions, kept when either "
    "side is >= 0.6-contained. Jaccard (d03) misses SUBSET duplication "
    "\u2014 a document quoted wholesale inside a much longer one scores "
    "low Jaccard but high containment \u2014 the signal corpus curation "
    "uses for quote/boilerplate-inclusion detection. Same bounded "
    "candidate space and shingle attach as d03 (one materialized "
    "shingle evaluation; sh_a/sh_b join per side, shuffled-hash, ids "
    "only on the quadratic path — r16); only the scoring formula "
    "differs.",
)
def n16_shingle_containment(spark: SparkSession, sf_dir: str):
    paired = _paired_candidate_shingles(spark, sf_dir)
    inter = F.size(
        F.array_distinct(F.array_intersect("sh_a", "sh_b"))
    ).cast("double")
    c_ab = inter / F.size(F.array_distinct("sh_a"))
    c_ba = inter / F.size(F.array_distinct("sh_b"))
    # filter on the UNROUNDED scores exactly as the oracle does (a
    # just-below-threshold value must not survive via round-up), round
    # only for the emitted columns
    return paired.filter(F.greatest(c_ab, c_ba) >= 0.6).select(
        "doc_a",
        "doc_b",
        F.round(c_ab, 9).alias("containment_ab"),
        F.round(c_ba, 9).alias("containment_ba"),
    )


SIMHASH_BITS = 16


def _simhash_exprs_spark(h):
    """Per-token ±1 contributions for each simhash bit, given hash col."""
    return [
        (
            (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]


_D04_ORACLE = (
    "WITH tok AS (SELECT doc_id, unnest("
    + _SQL_TOKENS
    + ") AS tk FROM documents), "
    "h AS (SELECT doc_id, "
    "CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) AS hv FROM tok), "
    "bits AS (SELECT doc_id, "
    + ", ".join(
        f"SUM(((hv >> {j}) & 1) * 2 - 1) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    + " FROM h GROUP BY doc_id) "
    "SELECT doc_id, "
    + " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    + " AS simhash FROM bits"
)


@register(
    "d04_simhash",
    oracle=_D04_ORACLE,
    note=f"SimHash ({SIMHASH_BITS}-bit) document signature: md5-derived "
    "per-token hash, frequency-weighted bit votes, sign -> bit. One "
    "narrow explode + one groupBy(doc_id) — near-dup docs land in "
    "nearby hamming space",
)
def d04_simhash(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tk"),
    )
    hv = F.conv(F.substring(F.md5("tk"), 1, 15), 16, 10).cast("bigint")
    contrib = toks.select("doc_id", *[c for c in _simhash_exprs_spark(hv)])
    votes = contrib.groupBy("doc_id").agg(
        *[F.sum(f"b{j}").alias(f"s{j}") for j in range(SIMHASH_BITS)]
    )
    simhash = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    return votes.select("doc_id", simhash.alias("simhash"))


# ---------------------------------------------------------------------------
# D6: simhash hamming near-dup pairs (banded buckets + bit_count verify)
# ---------------------------------------------------------------------------

HAM_K = 1  # pairs within hamming distance <= 1 are near-dups
SIM_BANDS = 2  # k+1 bands: pigeonhole guarantees one exact band match
_BAND_BITS = SIMHASH_BITS // SIM_BANDS

_D06_ORACLE = (
    "WITH sim AS ("
    + _D04_ORACLE
    + "), bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash >> {b * _BAND_BITS}) & {(1 << _BAND_BITS) - 1} AS bkey "
        "FROM sim"
        for b in range(SIM_BANDS)
    )
    + ") "
    "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "bit_count(xor(a.simhash, b.simhash)) AS hamming "
    "FROM bands a JOIN bands b "
    "ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id "
    f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAM_K}"
)


@register(
    "d06_simhash_neardup",
    oracle=_D06_ORACLE,
    note=f"SimHash near-dup pairs: hamming(simhash) <= {HAM_K} via "
    f"{SIM_BANDS}-band pigeonhole bucketing — a pair within the "
    "threshold MUST agree exactly on at least one band, so candidates "
    "come from equality buckets (O(sum bucket^2) pair space, same "
    "bucket-local groupBy emission as d02 — the simhash pipeline is "
    "evaluated ONCE, where a self-join would run it twice), then exact "
    "bit_count(xor) verification on candidates only. At 100 TB swap "
    f"{SIMHASH_BITS}-bit for 64-bit signatures (constant here) — the "
    "plan is unchanged, buckets get sparser.",
)
def d06_simhash_neardup(spark: SparkSession, sf_dir: str):
    return hamming_pairs(
        d04_simhash(spark, sf_dir), "doc_id", "simhash",
        SIM_BANDS, _BAND_BITS, HAM_K,
    ).withColumnsRenamed({"a": "doc_a", "b": "doc_b"})


# ---------------------------------------------------------------------------
# D5: connected-components canonicalization of the near-dup pair graph
# ---------------------------------------------------------------------------

_D05_ORACLE = (
    _sig_sql().replace("WITH ", "WITH RECURSIVE ", 1)
    + f", bands AS ({_bands_sql()}), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM bands a JOIN bands b "
    "ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id), "
    "pairs AS (SELECT c.doc_a, c.doc_b FROM cand c "
    "JOIN sh_t sa ON c.doc_a = sa.doc_id "
    "JOIN sh_t sb ON c.doc_b = sb.doc_id "
    "WHERE CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS DOUBLE) "
    "/ len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5), "
    "edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs "
    "UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs), "
    "reach(node, lbl) AS ("
    "SELECT doc_id AS node, doc_id AS lbl FROM documents "
    "UNION "
    "SELECT r.node, e.v AS lbl FROM reach r JOIN edges e ON e.u = r.lbl) "
    "SELECT node AS doc_id, MIN(lbl) AS canonical_id, "
    "MIN(lbl) <> node AS is_dup FROM reach GROUP BY node"
)


@register(
    "d05_dedup_components",
    oracle=_D05_ORACLE,
    note="Transitive closure of the verified near-dup pairs "
    "(connected components, hash-to-min pointer jumping — "
    "operators/components.py): every document maps to its cluster's "
    "min doc_id; keep-one dedup = filter is_dup. O(log diameter) "
    "rounds of join+min-agg; oracle = DuckDB recursive CTE",
)
def d05_dedup_components(spark: SparkSession, sf_dir: str):
    from ..operators.components import connected_components

    pairs = d03_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    docs = t(spark, sf_dir, "documents").select("doc_id")
    out = docs.join(
        labels, docs["doc_id"] == labels["node"], "left"
    ).select(
        "doc_id",
        F.coalesce("comp", "doc_id").alias("canonical_id"),
    )
    return out.withColumn(
        "is_dup", F.col("canonical_id") != F.col("doc_id")
    )


# ---------------------------------------------------------------------------
# N8-N10: corpus curation ops — per-source quotas, vocabulary, TF-IDF
# ---------------------------------------------------------------------------

QUOTA_PER_SOURCE = 50
VOCAB_TOPK = 100
TFIDF_TOPK = 3


@register(
    "n08_source_quota",
    oracle=f"""
    SELECT doc_id, source, rn AS source_rank FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY doc_id) AS rn
      FROM documents)
    WHERE rn <= {QUOTA_PER_SOURCE}
    """,
    note=f"Per-source quota capping (keep first {QUOTA_PER_SOURCE} docs "
    "per source by doc_id) — the anti-domination filter web-scale "
    "corpora apply per domain. One shuffle on source; a pathologically "
    "hot source is bounded by the quota itself (the window stops "
    "emitting past k, and at extreme skew the salted two-phase pick "
    "of a08 applies)",
)
def n08_source_quota(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.select(
            "doc_id", "source", F.row_number().over(w).alias("source_rank")
        )
        .filter(F.col("source_rank") <= QUOTA_PER_SOURCE)
    )


@register(
    "n09_vocab_topk",
    oracle=f"""
    SELECT tk AS token, n, rank FROM (
      SELECT tk, COUNT(*) AS n,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tk ASC) AS rank
      FROM (SELECT unnest({_SQL_TOKENS}) AS tk FROM documents)
      GROUP BY tk)
    WHERE rank <= {VOCAB_TOPK}
    """,
    note=f"Corpus vocabulary: top-{VOCAB_TOPK} tokens by frequency. "
    "explode -> count (map-side partial agg does the heavy lifting: "
    "the shuffle carries one row per distinct token per task, not one "
    "per occurrence) -> orderBy+limit, which Spark executes as "
    "TakeOrderedAndProject: each task keeps its local top-k and only "
    "k rows per task reach the driver-side merge — no single-partition "
    "sort even with a 100M-token vocabulary. The rank window runs on "
    "the k survivors only. Deterministic (count DESC, token ASC) "
    "tiebreak in both engines",
)
def n09_vocab_topk(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(VOCAB_TOPK)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w))


@register(
    "n10_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS tk
                 FROM documents),
    tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT tk, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tk,
             floor(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0)
                   * 1e9 + 0.5) / 1e9 AS tfidf
      FROM tf JOIN df USING (tk) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, tk AS token, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tk ASC) AS rank
      FROM scored)
    SELECT doc_id, token, tfidf, rank FROM ranked
    WHERE rank <= {TFIDF_TOPK}
    """,
    note=f"TF-IDF top-{TFIDF_TOPK} terms per document (smoothed idf "
    "ln((N+1)/(df+1))+1). ONE pass over the exploded token table: "
    "tf = groupBy(doc, token) (map-side combinable), then df = "
    "count over a token-partitioned window of the tf table — tf has "
    "one row per (doc, token), so the window count IS the document "
    "frequency, and the expensive explode pipeline is never "
    "evaluated twice (a tf-vs-df self-join would run it once per "
    "side); per-doc top-k windows the small tf table, never the raw "
    "corpus",
)
def n10_tfidf_top_terms(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_c = F.count(F.lit(1)).over(Window.partitionBy("token"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (df_c + 1.0)) + 1.0
    from ..functions.rounding import rhu

    scored = tf.crossJoin(F.broadcast(n_docs)).select(
        "doc_id",
        "token",
        rhu(F.col("tf") * idf, 9).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOPK)
    )


# ---------------------------------------------------------------------------
# N11: repetition / diversity scoring (Gopher-style quality signals)
# ---------------------------------------------------------------------------


@register(
    "n11_repetition_score",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    bg AS (SELECT doc_id, t,
           CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
                ELSE list_transform(range(1, len(t)),
                                    i -> concat_ws(' ', t[i], t[i+1]))
           END AS b FROM tk)
    SELECT doc_id,
           len(t) AS n_tokens,
           floor(CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
                 * 1e9 + 0.5) / 1e9 AS distinct_frac,
           floor((1.0 - CAST(len(list_distinct(b)) AS DOUBLE) / len(b))
                 * 1e9 + 0.5) / 1e9 AS dup_bigram_frac,
           floor(CAST(list_max(list_transform(list_distinct(t),
                 w -> len(list_filter(t, x -> x = w)))) AS DOUBLE)
                 / len(t) * 1e9 + 0.5) / 1e9 AS top_token_frac
    FROM bg
    """,
    note="Repetition/diversity signals (Gopher-style): type-token "
    "ratio, duplicate-bigram fraction, most-frequent-token share. "
    "Pure array expressions over materialized token columns — narrow, "
    "shuffle-free, whole-corpus linear; the per-doc top-token count "
    "is O(distinct x len) inside one row, never a shuffle",
)
def n11_repetition_score(spark: SparkSession, sf_dir: str):
    d = tf(spark, sf_dir, "documents")
    tok_df = d.select("doc_id", tokenize(F.col("text")).alias("t"))
    bg_df = tok_df.select(
        "doc_id", "t", shingles_from_tokens(F.col("t"), k=2).alias("b")
    )
    n = F.size("t")
    distinct_frac = F.size(F.array_distinct("t")).cast("double") / n
    dup_bigram = F.lit(1.0) - F.size(
        F.array_distinct("b")
    ).cast("double") / F.size("b")
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct("t"),
            lambda w: F.size(F.filter(F.col("t"), lambda x: x == w)),
        )
    )
    from ..functions.rounding import rhu

    return bg_df.select(
        "doc_id",
        n.alias("n_tokens"),
        rhu(distinct_frac, 9).alias("distinct_frac"),
        rhu(dup_bigram, 9).alias("dup_bigram_frac"),
        rhu(top_cnt.cast("double") / n, 9).alias("top_token_frac"),
    )


# ---------------------------------------------------------------------------
# N12: sequence packing — token-budget binning for training batches
# ---------------------------------------------------------------------------

PACK_BUDGET = 512


@register(
    "n12_sequence_packing",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang, {_SQL_NTOK} AS n_tok FROM documents)
    SELECT doc_id, lang, n_tok,
           CAST(floor((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tok)
                 / {PACK_BUDGET}.0) AS BIGINT) AS pack_id
    FROM sized
    """,
    note=f"Sequence packing: greedy concatenation of docs into "
    f"~{PACK_BUDGET}-token training sequences via a running-sum "
    "window per lang stream — pack_id = floor(preceding_tokens / "
    "budget). ONE sort-shuffle per stream; integral token counts sum "
    "exactly so both engines agree bit-for-bit. The deterministic "
    "doc_id order makes packing reproducible across runs",
)
def n12_sequence_packing(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    preceding = F.sum("n_tok").over(w) - F.col("n_tok")
    return sized.select(
        "doc_id",
        "lang",
        "n_tok",
        F.floor(preceding / PACK_BUDGET).alias("pack_id"),
    )


# ---------------------------------------------------------------------------
# N13: PII redaction (emails / phone-shaped numbers) — pre-training scrub
# ---------------------------------------------------------------------------

# RE2-safe patterns (work unchanged in Spark's Java regex and DuckDB's
# RE2): no lookbehind, no backreferences.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


@register(
    "n13_pii_redaction",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
             '{_PHONE_RE}', '[PHONE]', 'g') AS text_clean,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones
    FROM documents
    """,
    note="N13 PII scrub: email/phone redaction + per-doc match counts, "
    "the mandatory pre-training pass over a web corpus. Narrow "
    "JVM-regex projections (patterns kept RE2-compatible so both "
    "engines match identically); at 100 TB this is scan-bound, "
    "exactly as it should be.",
)
def n13_pii_redaction(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        ).alias("text_clean"),
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).alias("n_phones"),
    )


# ---------------------------------------------------------------------------
# N14: source-weighted corpus mixing (deterministic Bernoulli sampling)
# ---------------------------------------------------------------------------

# Per-source keep rates — the "data mixing weights" of a pre-training
# corpus recipe (e.g. books oversampled, common-crawl downsampled).
MIX_RATES = {"src0": 0.9, "src1": 0.5, "src2": 0.25}
MIX_DEFAULT_RATE = 0.1


def mixing_keep_sql(tbl: str = "") -> str:
    """The n14 keep predicate as SQL, qualified by `tbl.` if given."""
    p = f"{tbl}." if tbl else ""
    return (
        "("
        + " OR ".join(
            f"({p}source = '{s}' AND "
            f"substr(md5(CAST({p}doc_id AS VARCHAR)), 1, 13)"
            f" < '{hex_threshold(r)}')"
            for s, r in MIX_RATES.items()
        )
        + f" OR ({p}source NOT IN {tuple(MIX_RATES)!r} AND "
        f"substr(md5(CAST({p}doc_id AS VARCHAR)), 1, 13)"
        f" < '{hex_threshold(MIX_DEFAULT_RATE)}'))"
    )


def mixing_keep_expr() -> "F.Column":
    """The n14 keep predicate as a Column over (doc_id, source)."""
    h13 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13)
    keep = F.lit(False)
    for s, r in MIX_RATES.items():
        keep = keep | (
            (F.col("source") == s) & (h13 < F.lit(hex_threshold(r)))
        )
    return keep | (
        ~F.col("source").isin(*MIX_RATES)
        & (h13 < F.lit(hex_threshold(MIX_DEFAULT_RATE)))
    )


@register(
    "n14_source_mixing",
    oracle=f"SELECT doc_id, source FROM documents WHERE {mixing_keep_sql()}",
    note="N14 corpus mixing: per-source keep rates applied as "
    "DETERMINISTIC Bernoulli sampling — keep iff md5(doc_id) hex "
    "prefix < the source's rate threshold. Unlike rand()<p this is "
    "reproducible across runs, partitionings and engines, and a "
    "document keeps/drops CONSISTENTLY when the corpus is "
    "re-processed (critical for incremental pipeline re-runs). "
    "Narrow filter, pushdown-friendly, zero shuffle.",
)
def n14_source_mixing(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents")
    return d.filter(mixing_keep_expr()).select("doc_id", "source")


# ---------------------------------------------------------------------------
# E4: the corpus-curation pipeline — every stage above, composed
# ---------------------------------------------------------------------------

E4_QUALITY_MIN = 0.5
E4_SHARDS = 8


@register(
    "e04_corpus_curation",
    oracle=(
        f"WITH canon AS ({_D05_ORACLE}), "
        f"q AS ({REGISTRY['n02_quality_score'].oracle}), "
        f"lng AS ({_LANG_ID_ORACLE}), "
        "kept AS ("
        "SELECT d.doc_id, d.source FROM documents d "
        "JOIN canon c ON c.doc_id = d.doc_id AND NOT c.is_dup "
        f"JOIN q ON q.doc_id = d.doc_id AND q.quality >= {E4_QUALITY_MIN!r} "
        "JOIN lng ON lng.doc_id = d.doc_id AND lng.pred_lang = lng.lang "
        f"WHERE {mixing_keep_sql('d')}) "
        "SELECT doc_id, source, "
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) "
        f"AS BIGINT) % {E4_SHARDS} AS shard FROM kept"
    ),
    note="E4: the end-to-end training-corpus curation pipeline, every "
    "stage a verified operator composed into ONE declarative plan: "
    f"quality floor (n02, >= {E4_QUALITY_MIN}), language-metadata "
    "consistency (n03 pred == recorded lang), near-dup keep-one "
    "(d02->d03->d05 canonical docs only), source-weighted mixing "
    "(n14), md5 shard assignment (s08). The oracle nests the same "
    "registered CTE chains as doc_id joins; the Spark side FUSES the "
    "row-local stages instead (r12): quality (n02), the lang-id "
    "argmax (n03) and the mixing predicate (n14) are all projections "
    "of the same row, and an inner join on the unique doc_id key "
    "against a 1:1 projection of the same table IS a filter — so all "
    "three evaluate inline on ONE documents scan. Only the dedup "
    "chain, which genuinely shuffles, remains a join. Saves 3 scans "
    "of the wide text column + 2 joins vs the naive composition — "
    "at 100 TB the difference between reading the corpus once or "
    "four times.",
)
def e04_corpus_curation(spark: SparkSession, sf_dir: str):
    from ..operators.components import connected_components

    docs = t(spark, sf_dir, "documents")
    # Keep-one dedup as a LEFT ANTI against the DUP node set instead
    # of an inner join against d05's canon output (r18, guide §3):
    # "not a duplicate" is doc_id NOT IN {node | comp != node} — the
    # dup set is component-member-sized (strictly smaller than the
    # corpus), while the old spelling rebuilt all-docs canonical ids
    # from a SECOND documents scan (PLANS.md had e04 at documents x2)
    # and inner-joined the full corpus against it. Same kept set by
    # definition (is_dup == doc_id IN dup_ids), pinned by the
    # full-value oracle. One documents scan, one corpus join removed.
    pairs = d03_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    dup_ids = cc.where(F.col("comp") != F.col("node")).select("node")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % E4_SHARDS
    )
    return (
        docs.filter(mixing_keep_expr())
        .filter(quality_score(F.col("text")) >= E4_QUALITY_MIN)
        .filter(_pred_lang_expr() == F.col("lang"))
        .join(dup_ids, docs["doc_id"] == dup_ids["node"], "left_anti")
        .select("doc_id", "source", shard.alias("shard"))
    )


# ---------------------------------------------------------------------------
# N15: trending terms — top-k vocabulary per event-time window
# ---------------------------------------------------------------------------

TREND_TOPK = 3


@register(
    "n15_trending_terms",
    oracle=f"""
    WITH tok AS (
      SELECT time_bucket(INTERVAL '6 hours', CAST(e.ts AS TIMESTAMP))
               AS window_start,
             unnest(regexp_split_to_array(trim(lower(d.text)), '\\s+')) AS term
      FROM events e JOIN documents d ON e.event_id % 500 = d.doc_id),
    counts AS (
      SELECT window_start, term, COUNT(*) AS n
      FROM tok GROUP BY window_start, term),
    ranked AS (
      SELECT window_start, term, n,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n DESC, term ASC) AS rk
      FROM counts)
    SELECT window_start, term, n, rk FROM ranked WHERE rk <= {TREND_TOPK}
    """,
    note=f"N15 trending terms: top-{TREND_TOPK} tokens per 6h event "
    "window (docs attached to events by id — the join stands in for a "
    "real event->document link). Two shuffles: token count agg, then "
    "the per-window rank window that STOPS at k rows per window — "
    "never a global sort; ties broken by term for cross-engine "
    "determinism. The 'what is trending now' primitive of a "
    "streaming corpus monitor (swap t01's streaming form in for "
    "incremental updates).",
)
def n15_trending_terms(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    d = t(spark, sf_dir, "documents")
    tok = (
        ev.join(d, ev.event_id % 500 == d.doc_id)
        .select(
            F.window("ts", "6 hours").alias("w"),
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("term"),
        )
        .select(F.col("w.start").alias("window_start"), "term")
    )
    counts = tok.groupBy("window_start", "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    rk = F.row_number().over(
        Window.partitionBy("window_start").orderBy(
            F.col("n").desc(), F.col("term").asc()
        )
    )
    return counts.select("window_start", "term", "n", rk.alias("rk")).filter(
        F.col("rk") <= TREND_TOPK
    )


# ---------------------------------------------------------------------------
# N17: corpus-wide segment-level dedup (the CCNet/RefinedWeb shape)
# ---------------------------------------------------------------------------

SEG_TOKENS = 10


@register(
    "n17_segment_dedup",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
      FROM documents
    ),
    seg AS (
      SELECT doc_id, u.i AS seg_idx, u.s AS seg
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(
                   0, CAST(ceil(len(tk) / {SEG_TOKENS}.0) AS BIGINT) - 1),
                 i -> {{'i': i,
                       's': array_to_string(
                         tk[i*{SEG_TOKENS}+1 : i*{SEG_TOKENS}+{SEG_TOKENS}],
                         ' ')}})) AS u
        FROM toks)
    ),
    ranked AS (
      SELECT doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (PARTITION BY md5(seg)
                                ORDER BY doc_id, seg_idx) AS rn
      FROM seg
    )
    SELECT doc_id,
           COUNT(*) AS n_segs,
           CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE rn = 1) AS DOUBLE) / COUNT(*)
             AS kept_ratio,
           md5(COALESCE(
             string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1),
             '')) AS kept_fp
    FROM ranked GROUP BY doc_id
    """,
    note=f"N17 segment-level corpus dedup (the CCNet/RefinedWeb unit: "
    f"dedup PARTS of documents, not whole documents — boilerplate "
    f"paragraphs repeat across docs whose full texts differ). Docs "
    f"split into consecutive {SEG_TOKENS}-token segments; a segment "
    "survives only in its canonical occurrence (lowest (doc_id, "
    "seg_idx) — a total order, so keep-one is deterministic under any "
    "partitioning). Output is per-doc retention stats + an md5 of the "
    "deduped reassembled text (payload-free driver compare). Plan: "
    "one narrow posexplode, ONE wide shuffle on the segment hash "
    "(the dedup shuffle — segments spread uniformly, no hot keys), "
    "one groupBy(doc_id) to reassemble. At 100 TB the segment-hash "
    "exchange is the same cardinality as d01's fingerprint shuffle "
    "scaled by segs/doc; state per reducer is one row_number "
    "counter. Reassembly sorts seg structs in-array (a13 policy), "
    "never relying on collect order.",
)
def n17_segment_dedup(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    d = tf(spark, sf_dir, "documents")
    # materialized token array (shingle perf contract: bind before HOF)
    toks = d.select("doc_id", tokenize(F.col("text")).alias("tk"))
    n_seg = F.ceil(F.size("tk") / F.lit(float(SEG_TOKENS))).cast("int")
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.array_join(
                    F.slice(F.col("tk"), i * SEG_TOKENS + 1, SEG_TOKENS),
                    " ",
                ),
            )
        ).alias("seg_idx", "seg"),
    )
    rn = F.row_number().over(
        Window.partitionBy(F.md5("seg")).orderBy("doc_id", "seg_idx")
    )
    ranked = segs.select("doc_id", "seg_idx", "seg", rn.alias("rn"))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct("seg_idx", "seg")
    )
    out = ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.count(kept_struct).alias("n_kept"),
        F.array_sort(F.collect_list(kept_struct)).alias("kept"),
    )
    return out.select(
        "doc_id",
        "n_segs",
        "n_kept",
        (F.col("n_kept").cast("double") / F.col("n_segs")).alias(
            "kept_ratio"
        ),
        F.md5(
            F.array_join(
                F.transform(F.col("kept"), lambda s: s["seg"]), " "
            )
        ).alias("kept_fp"),
    )


# ---------------------------------------------------------------------------
# N18: bigram-LM perplexity scoring (the CCNet-style quality filter)
# ---------------------------------------------------------------------------


@register(
    "n18_lm_perplexity",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
      FROM documents
    ),
    pairs AS (
      SELECT doc_id, b.w1 AS w1, b.w2 AS w2
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, len(tk) - 1),
                 i -> {'w1': tk[i], 'w2': tk[i+1]})) AS b
        FROM toks WHERE len(tk) >= 2)
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT tok) AS v
          FROM (SELECT unnest(tk) AS tok FROM toks)),
    scored AS (
      SELECT d.doc_id, d.n,
             floor((-ln((c2.c2 + 1.0) / (c1.c1 + v.v)))
                   * 1e9 + 0.5) / 1e9 AS nll_q
      FROM (SELECT doc_id, w1, w2, COUNT(*) AS n
            FROM pairs GROUP BY 1, 2, 3) d
      JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
             floor((CAST(SUM(CAST(n * nll_q AS DECIMAL(38,12)))
                         AS DOUBLE) / CAST(SUM(n) AS DOUBLE))
                   * 1e9 + 0.5) / 1e9 AS avg_nll
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, avg_nll,
           floor(exp(avg_nll) * 1e6 + 0.5) / 1e6 AS ppl
    FROM agg
    """,
    note="N18 bigram-LM perplexity scoring — the CCNet-style quality "
    "filter: train an add-one-smoothed bigram model ON the corpus "
    "itself, then score every document by average negative "
    "log-likelihood and perplexity (gibberish and boilerplate score "
    "high/low vs the corpus norm; CCNet buckets the corpus by LM "
    "perplexity tertiles). Train and score are ONE plan: bigrams "
    "explode narrowly (zip_with of two array slices — no index UDF), "
    "the model is two hash-aggs (bigram counts, then prefix "
    "marginals), V rides a broadcast scalar, and scoring joins "
    "per-doc DISTINCT bigrams (pre-aggregated, so the join input is "
    "bounded by vocab² not corpus size) to the model on the bigram "
    "key — a shuffle hash join that stays balanced at 100 TB because "
    "bigram keys are heavy-tailed but the pre-agg collapsed "
    "per-doc repeats; AQE skew-split covers the head. Floats: "
    "per-bigram nll rounded to 9 dp, weighted sum via decimal cast "
    "(order-independent), one division, exp rounded to 6 dp — every "
    "step engine-deterministic per the base.py policy.",
)
def n18_lm_perplexity(spark: SparkSession, sf_dir: str):
    from ..functions.rounding import rhu

    # Materialize the token table ONCE (r18, guide §2.4/§5 — the d03
    # shingle-table discipline): the model rollups c2/c1 and the
    # vocabulary scalar are separate JOIN SIDES below, and Catalyst
    # never reuses a subtree referenced from two join sides, so the
    # un-checkpointed spelling re-ran scan+tokenize+explode FOUR
    # times (the before-plan shows 4 `Scan parquet` leaves — one per
    # broadcast branch). One checkpoint of (doc_id, tk) + one of the
    # per-doc bigram counts cuts that to ONE corpus scan and ONE
    # bigram-explode pass; measured 1.75 s -> 1.18 s warm at sf0.1.
    # At 100 TB the same choice is 4 corpus reads vs 1 + a persisted
    # token table (a production run would persist(DISK_ONLY) or
    # write it to the lake, exactly as documented at d03).
    toks_all = (
        tf(spark, sf_dir, "documents")
        .select("doc_id", tokenize(F.col("text")).alias("tk"))
        .localCheckpoint()
    )
    toks = toks_all.filter(F.size("tk") >= 2)
    k = F.size("tk") - 1
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("tk"), 1, k),
                F.slice(F.col("tk"), 2, k),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")

    # the raw bigram stream shuffles ONCE (per-doc pre-aggregation);
    # corpus counts roll up from that much smaller table, so the model
    # aggs never re-shuffle the corpus-sized pair stream. Checkpointed
    # (r18): docb feeds the scoring join AND the c2 rollup (c1 rolls
    # up from c2) — two join sides again, so without this the
    # explode+agg pipeline re-ran inside each broadcast branch.
    docb = (
        pairs.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    c2 = docb.groupBy("w1", "w2").agg(F.sum("n").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    # V over ALL docs' tokens (incl. sub-2-token docs that contribute
    # no bigrams) — matches the oracle's unfiltered vocabulary CTE
    v = toks_all.select(F.explode("tk").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    scored = (
        docb.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "n",
            rhu(
                -F.log(
                    (F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))
                ),
                9,
            ).alias("nll_q"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        F.sum((F.col("n") * F.col("nll_q")).cast("decimal(38,12)"))
        .cast("double")
        .alias("s"),
    )
    avg_nll = rhu(
        F.col("s") / F.col("n_bigrams").cast("double"), 9
    ).alias("avg_nll")
    out = agg.select("doc_id", "n_bigrams", avg_nll)
    return out.select(
        "doc_id",
        "n_bigrams",
        "avg_nll",
        rhu(F.exp(F.col("avg_nll")), 6).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# N19: benchmark decontamination (train/eval n-gram overlap audit)
# ---------------------------------------------------------------------------

DECON_K = 5          # 5-token shingles: the usual contamination unit
EVAL_MOD, EVAL_REM = 20, 7   # doc_id % 20 == 7 -> the held-out set


@register(
    "n19_benchmark_decontamination",
    oracle=(
        f"WITH {_sql_shingle_ctes(k=DECON_K)}, "
        f"ev AS (SELECT DISTINCT s AS sh FROM "
        f"(SELECT unnest(sh) AS s FROM sh_t "
        f"WHERE doc_id % {EVAL_MOD} = {EVAL_REM})), "
        f"corp AS (SELECT doc_id, list_distinct(sh) AS shd FROM sh_t "
        f"WHERE doc_id % {EVAL_MOD} <> {EVAL_REM}), "
        f"shared AS (SELECT c.doc_id, COUNT(*) AS n_shared "
        f"FROM (SELECT doc_id, unnest(shd) AS s FROM corp) c "
        f"JOIN ev ON c.s = ev.sh GROUP BY 1) "
        f"SELECT corp.doc_id, len(shd) AS n_shingles, "
        f"COALESCE(n_shared, 0) AS n_shared, "
        f"COALESCE(n_shared, 0) >= 1 AS contaminated "
        f"FROM corp LEFT JOIN shared USING (doc_id)"
    ),
    note=f"N19 benchmark decontamination: audit the training corpus "
    f"for {DECON_K}-token shingle overlap with a held-out eval set "
    f"(doc_id % {EVAL_MOD} == {EVAL_REM} stands in for the benchmark "
    "suite) — the leakage check every LLM data pipeline runs before "
    "training (eval examples that leak into train inflate scores; "
    "the standard remedy is exactly this n-gram audit, cf. "
    "GPT-3/PaLM appendix dedup sections). Per training doc: distinct "
    "shingle count, how many are shared with ANY eval doc, and the "
    "contamination flag. Scale shape: the eval side is benchmark- "
    "sized (thousands of docs), so its distinct-shingle set "
    "BROADCASTS and the corpus side stays a narrow scan + "
    "broadcast-hash semi-count + one groupBy(doc_id) — no "
    "corpus-vs-corpus join anywhere; with a huge eval suite the same "
    "plan degrades gracefully to a shuffle join on the shingle key. "
    "The shingle table localCheckpoints once (n16 policy) so the "
    "tokenize->shingle scan isn't evaluated per consumer.",
)
def n19_benchmark_decontamination(spark: SparkSession, sf_dir: str):
    d = tf(spark, sf_dir, "documents")
    sh = (
        d.select("doc_id", tokenize(F.col("text")).alias("tok"))
        .select(
            "doc_id",
            F.array_distinct(
                shingles_from_tokens(F.col("tok"), k=DECON_K)
            ).alias("shd"),
        )
        .localCheckpoint()
    )
    is_eval = (F.col("doc_id") % EVAL_MOD) == EVAL_REM
    ev = sh.filter(is_eval).select(F.explode("shd").alias("sh")).distinct()
    corp = sh.filter(~is_eval)
    shared = (
        corp.select("doc_id", F.explode("shd").alias("sh"))
        .join(F.broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    n_shared = F.coalesce("n_shared", F.lit(0))
    return (
        corp.select("doc_id", F.size("shd").alias("n_shingles"))
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            n_shared.alias("n_shared"),
            (n_shared >= 1).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# N20/N21: TRAINED BPE — the tokenizer as data (VERDICT r6 item 8).
# n06 approximates with a fixed token pattern; here the merge table is
# LEARNED on the corpus (iterative pair-count -> argmax -> merge, the
# g01 driver-loop shape) and then applied to tokenize the full corpus.
# ---------------------------------------------------------------------------

# Tokenizations are strings with DOUBLE \x1f delimiters between (and
# around) symbols: "␟␟c1␟␟c2␟␟". A merge of pair (l, r) is then ONE
# left-to-right non-overlapping replace of "␟l␟␟r␟" with "␟lr␟" —
# and because adjacent matches do not share a delimiter (each keeps
# one ␟ of the double boundary on each side), a run like 'aaaa'
# merges to (aa)(aa) exactly like reference BPE greedy application.
# (A single-delimiter pattern "␟a␟a␟" consumes the shared middle
# boundary and silently under-merges runs — pinned by
# tests/test_text.py.) \x1f never appears in normalized text.
BPE_SEP = "\x1f"
BPE_SEP2 = BPE_SEP * 2
N_BPE_MERGES = 6
BPE_SAMPLE_MOD = 5  # train on doc_id % 5 = 0 (the classic BPE sample)
BPE_PREFIX = 60  # chars of each training doc


def _bpe_norm_sql(col: str) -> str:
    """DuckDB spelling of the normalization: lower -> strip non-[a-z ]
    -> space to '_' (the sentencepiece word-boundary convention).
    DuckDB's regexp_replace needs the 'g' flag for all-occurrences;
    Spark's is global by default (see _bpe_norm)."""
    return (
        f"replace(regexp_replace(lower({col}), '[^a-z ]', '', 'g'), "
        "' ', '_')"
    )


def _bpe_norm(col):
    """Spark spelling of the same normalization."""
    return F.translate(
        F.regexp_replace(F.lower(col), "[^a-z ]", ""), " ", "_"
    )


def _bpe_train_ctes() -> str:
    """The UNROLLED training iterations as DuckDB CTE text: tok0 is
    the double-delimited training sample; each step counts adjacent
    pairs (overlapping, like reference BPE get_stats), picks the
    (count DESC, left, right) argmax, and applies the merge with the
    dual-delimiter replace — bit-identical semantics to Spark's
    replace() (pinned by tests/test_text.py on planted run/boundary
    cases). Yields CTEs tok0..tok{N}, win0..win{N-1}."""
    sep = "chr(31)"
    sep2 = f"({sep} || {sep})"
    ctes = [
        f"""tok0 AS (
      SELECT doc_id,
             {sep2} || regexp_replace(norm, '(.)', '\\1' || {sep} || {sep},
                                      'g') AS s
      FROM (SELECT doc_id,
                   substr({_bpe_norm_sql('text')}, 1, {BPE_PREFIX}) AS norm
            FROM documents WHERE doc_id % {BPE_SAMPLE_MOD} = 0))"""
    ]
    for i in range(N_BPE_MERGES):
        ctes.append(f"""pairs{i} AS (
      SELECT arr[i] AS l, arr[i + 1] AS r
      FROM (SELECT string_split(
              substr(s, 3, GREATEST(length(s) - 4, 0)), {sep2}) AS arr
            FROM tok{i}),
           UNNEST(generate_series(1, len(arr) - 1)) AS u(i))""")
        ctes.append(f"""win{i} AS (
      SELECT l, r, c FROM (
        SELECT l, r, COUNT(*) AS c FROM pairs{i} GROUP BY 1, 2
        QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, l ASC, r ASC) = 1)
      UNION ALL
      SELECT '', '', CAST(0 AS BIGINT)
      WHERE NOT EXISTS (SELECT 1 FROM pairs{i}))""")
        ctes.append(f"""tok{i + 1} AS (
      SELECT t.doc_id,
             replace(t.s, {sep} || w.l || {sep2} || w.r || {sep},
                     {sep} || w.l || w.r || {sep}) AS s
      FROM tok{i} t CROSS JOIN win{i} w)""")
    return ",\n    ".join(ctes)


@register(
    "n20_bpe_train",
    oracle=f"""
    WITH {_bpe_train_ctes()}
    {" UNION ALL ".join(
        f"SELECT {i} AS step, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, c AS pair_count FROM win{i}"
        for i in range(N_BPE_MERGES)
    )}
    """,
    note=f"N20 BPE TRAINING in-plan: {N_BPE_MERGES} merge rounds over "
    f"a 1/{BPE_SAMPLE_MOD} document sample ({BPE_PREFIX}-char "
    "prefixes), each round ONE distributed pair-count aggregation "
    "(explode adjacent symbol pairs -> groupBy count, map-side "
    "combined) + a 1-row argmax collect (count DESC, pair ASC "
    "tie-break — the k-means-scalar class of driver action), then "
    "the winning merge applied corpus-wide as a single codegen'd "
    "left-to-right non-overlapping replace(). The learned merge "
    "table IS the output — the tokenizer as data. The oracle unrolls "
    "all rounds in SQL with the same replace semantics, so a wrong "
    "count, tie-break, or overlap rule diverges the table. At 100 TB "
    "the sample is what real BPE trainers use; each round is one "
    "shuffle of (pair, count) partials and the loop state is the "
    "g01 shape (checkpoint the tokenization every few rounds).",
)
def n20_bpe_train(spark: SparkSession, sf_dir: str):
    merges = _bpe_fit(spark, sf_dir)
    return local_df(
        spark,
        [
            (i, left, right, left + right, int(c))
            for i, (left, right, c) in enumerate(merges)
        ],
        "step int, left_sym string, right_sym string, "
        "merged string, pair_count long",
    )


def _bpe_fit(spark: SparkSession, sf_dir: str) -> list:
    """Run the training loop; returns [(left, right, pair_count)] in
    merge order. Each iteration: pair-count aggregation + 1-row
    argmax collect; the merge re-enters the plan as a literal."""
    norm = F.substring(_bpe_norm(F.col("text")), 1, BPE_PREFIX)
    base = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % BPE_SAMPLE_MOD == 0)
        .select(
            "doc_id",
            F.concat(
                F.lit(BPE_SEP2),
                F.regexp_replace(norm, "(.)", "$1" + BPE_SEP2),
            ).alias("s"),
        )
    )
    # the sample is read ONCE and cached: every merge round's
    # pair-count job folds its replaces over the cached sample rather
    # than re-scanning the documents lake (at 100 TB the sample is
    # the only thing the training loop ever touches); unpersisted in
    # the finally below so repeated driver calls don't accumulate
    # cached blocks for the session's lifetime
    df = base.cache()
    try:
        return _bpe_merge_loop(df)
    finally:
        base.unpersist()


def _bpe_merge_loop(df) -> list:
    merges = []
    for _step in range(N_BPE_MERGES):
        arr = F.split(F.expr("substring(s, 3, length(s) - 4)"), BPE_SEP2)
        top = (
            df.select(
                F.explode(
                    F.arrays_zip(
                        F.slice(arr, 1, F.size(arr) - 1),
                        F.slice(arr, 2, F.size(arr) - 1),
                    )
                ).alias("p")
            )
            .select(F.col("p.0").alias("l"), F.col("p.1").alias("r"))
            .groupBy("l", "r")
            .count()
            .orderBy(F.desc("count"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            # corpus fully merged (tiny-corpus edge): deterministic
            # sentinel, mirrored by the oracle's NOT EXISTS branch —
            # the ''-pair replace below can never match (symbols are
            # never empty), so remaining rounds are no-ops
            merges.append(("", "", 0))
            continue
        win = top[0]
        merges.append((win["l"], win["r"], win["count"]))
        df = df.select(
            "doc_id",
            F.replace(
                F.col("s"),
                F.lit(BPE_SEP + win["l"] + BPE_SEP2 + win["r"] + BPE_SEP),
                F.lit(BPE_SEP + win["l"] + win["r"] + BPE_SEP),
            ).alias("s"),
        )
    return merges


@register(
    "n21_bpe_tokenize",
    oracle=f"""
    WITH {_bpe_train_ctes()},
    corpus0 AS (
      SELECT doc_id,
             chr(31) || chr(31) ||
             regexp_replace({_bpe_norm_sql('text')},
                            '(.)', '\\1' || chr(31) || chr(31), 'g') AS s
      FROM documents),
    {",".join(
        f'''corpus{i + 1} AS (
      SELECT c.doc_id,
             replace(c.s,
                     chr(31) || w.l || chr(31) || chr(31) || w.r || chr(31),
                     chr(31) || w.l || w.r || chr(31)) AS s
      FROM corpus{i} c CROSS JOIN win{i} w)'''
        for i in range(N_BPE_MERGES)
    )}
    SELECT doc_id,
           CAST(len(string_split(
                  substr(s, 3, GREATEST(length(s) - 4, 0)),
                  chr(31) || chr(31))) AS BIGINT)
             AS n_tokens,
           CAST((length(s)
                 - 2 * len(string_split(
                     substr(s, 3, GREATEST(length(s) - 4, 0)),
                     chr(31) || chr(31))) - 2)
                AS BIGINT) AS n_chars
    FROM corpus{N_BPE_MERGES}
    """,
    note="N21 tokenize WITH the trained tokenizer: the n20 merge "
    "table (re-learned in-loop; literals once trained) applied in "
    "merge order to the FULL corpus — each merge one codegen'd "
    "replace(), so tokenization is a narrow scan-bound map, no "
    "shuffle at all. Output is per-doc BPE token and char counts; "
    "the oracle replays training AND application end-to-end, so a "
    "single mis-ordered or mis-applied merge shifts token counts "
    "and fails the hash. The production shape: merges broadcast "
    "(they're literals), corpus never moves — tokenizing 100 TB "
    "costs exactly one scan.",
)
def n21_bpe_tokenize(spark: SparkSession, sf_dir: str):
    merges = _bpe_fit(spark, sf_dir)
    norm = _bpe_norm(F.col("text"))
    s = F.concat(
        F.lit(BPE_SEP2), F.regexp_replace(norm, "(.)", "$1" + BPE_SEP2)
    )
    for left, right, _c in merges:
        s = F.replace(
            s,
            F.lit(BPE_SEP + left + BPE_SEP2 + right + BPE_SEP),
            F.lit(BPE_SEP + left + right + BPE_SEP),
        )
    toks = F.split(F.expr("substring(s, 3, length(s) - 4)"), BPE_SEP2)
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", s.alias("s"))
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            (F.length("s") - 2 * F.size(toks) - 2)
            .cast("long")
            .alias("n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# N22: RAG chunking — fixed token windows with overlap, the retrieval
# ingestion step between curation (e04) and embedding/indexing (e05)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


@register(
    "n22_rag_chunking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'),
                          ' ') AS tok
      FROM documents),
    sized AS (SELECT doc_id, tok, len(tok) AS n FROM toks),
    chunks AS (
      SELECT doc_id, tok, n,
             unnest(generate_series(
               0,
               GREATEST(CAST(ceil((n - {CHUNK_TOKENS})
                             / {CHUNK_STRIDE}.0) AS BIGINT), 0)))
               AS chunk_idx
      FROM sized),
    sliced AS (
      SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
             list_slice(tok, chunk_idx * {CHUNK_STRIDE} + 1,
                        LEAST(chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS},
                              n)) AS ctok
      FROM chunks)
    SELECT doc_id, chunk_idx,
           CAST(len(ctok) AS BIGINT) AS n_tokens,
           ctok[1] AS first_token,
           ctok[len(ctok)] AS last_token,
           md5(array_to_string(ctok, ' ')) AS chunk_hash
    FROM sliced
    """,
    note=f"N22 RAG chunking: every document split into "
    f"{CHUNK_TOKENS}-token windows advancing by {CHUNK_STRIDE} "
    f"({CHUNK_OVERLAP}-token overlap so a retrieval hit never loses "
    "its sentence boundary to a chunk edge) — the ingestion step "
    "between corpus curation (e04) and embedding + indexing (e05) in "
    "every retrieval pipeline. Pure column algebra: tokenize once, "
    "explode a per-doc chunk-index sequence, slice — a narrow "
    "scan-bound plan with NO shuffle (the explode is bounded fan-out "
    "~n_tokens/stride per doc), so chunking 100 TB costs one scan, "
    "embarrassingly parallel. chunk_hash (md5 of the joined window) "
    "is the downstream dedup/lineage key; the oracle recomputes "
    "every window, so an off-by-one in stride, tail handling, or "
    "overlap fails the hash.",
)
def n22_rag_chunking(spark: SparkSession, sf_dir: str):
    tok = F.split(
        F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " "
    )
    n = F.size("tok")
    n_last = F.greatest(
        F.ceil((n - CHUNK_TOKENS) / float(CHUNK_STRIDE)).cast("long"),
        F.lit(0).cast("long"),
    )
    ctok = F.slice(
        F.col("tok"),
        F.col("chunk_idx").cast("int") * CHUNK_STRIDE + 1,
        CHUNK_TOKENS,
    )
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", tok.alias("tok"))
        .select(
            "doc_id",
            "tok",
            F.explode(F.sequence(F.lit(0).cast("long"), n_last)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            ctok.alias("ctok"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("ctok").cast("long").alias("n_tokens"),
            F.element_at("ctok", 1).alias("first_token"),
            F.element_at("ctok", -1).alias("last_token"),
            F.md5(F.concat_ws(" ", "ctok")).alias("chunk_hash"),
        )
    )


# ---------------------------------------------------------------------------
# N23: PMI term co-occurrence (collocation mining)
# ---------------------------------------------------------------------------

PMI_MIN_CO = 20  # min docs a pair must share to be scored


@register(
    "n23_pmi_cooccurrence",
    oracle=f"""
    WITH tok AS (SELECT DISTINCT doc_id, unnest({_SQL_TOKENS}) AS tk
                 FROM documents),
    df AS (SELECT tk, COUNT(*) AS df FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    co AS (SELECT a.tk AS term_a, b.tk AS term_b, COUNT(*) AS n_co
           FROM tok a JOIN tok b
             ON a.doc_id = b.doc_id AND a.tk < b.tk
           GROUP BY 1, 2)
    SELECT term_a, term_b, n_co,
           floor(ln(CAST(n.n_docs AS DOUBLE) * n_co / (da.df * db.df))
                 * 1e9 + 0.5) / 1e9 AS pmi
    FROM co
    JOIN df da ON da.tk = co.term_a
    JOIN df db ON db.tk = co.term_b
    CROSS JOIN n
    WHERE n_co >= {PMI_MIN_CO}
    """,
    note="N23 pointwise mutual information over document-level term "
    "co-occurrence (collocation mining / topic-signal discovery; the "
    "count-based cousin of word2vec's objective): distinct (doc, "
    "term) presence, a doc-keyed self-join for pair counts "
    "(candidates bounded by per-doc distinct-term count squared — "
    "NOT corpus-quadratic; the hot-doc bound is the same story as "
    "j12's cell occupancy), document frequencies via one grouped "
    "count, PMI = ln(N * c_ab / (c_a * c_b)) with the corpus size "
    f"riding a broadcast 1-row frame. Pairs below {PMI_MIN_CO} "
    "co-occurrences are dropped (PMI's low-count instability — the "
    "standard cutoff). Map-side combine collapses the pair explosion "
    "to distinct-pair rows before the shuffle; rhu(9) guards ln ulps. "
    "(A doc-local pair generator over each document's distinct-token "
    "array — zero token shuffle — was measured in r12 and REJECTED: "
    "Spark's higher-order functions evaluate their lambdas outside "
    "whole-stage codegen, reading 1.4x the join spelling at sf0.1 "
    "while the join's exchange-reuse already shuffles tokens once.)",
)
def n23_pmi_cooccurrence(spark: SparkSession, sf_dir: str):
    from ..functions.rounding import rhu
    from ..functions.text import tokenize

    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("tk"),
    )
    df = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    b = tok.select(
        F.col("doc_id").alias("doc_b"), F.col("tk").alias("term_b")
    )
    co = (
        tok.select(
            F.col("doc_id").alias("doc_a"), F.col("tk").alias("term_a")
        )
        .join(
            b,
            (F.col("doc_a") == F.col("doc_b"))
            & (F.col("term_a") < F.col("term_b")),
        )
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= PMI_MIN_CO)
    )
    return (
        co.join(
            df.select(F.col("tk").alias("term_a"), F.col("df").alias("dfa")),
            "term_a",
        )
        .join(
            df.select(F.col("tk").alias("term_b"), F.col("df").alias("dfb")),
            "term_b",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "n_co",
            rhu(
                F.log(
                    F.col("n_docs").cast("double")
                    * F.col("n_co")
                    / (F.col("dfa") * F.col("dfb"))
                ),
                9,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# D11: quality-based survivor selection per duplicate cluster
# ---------------------------------------------------------------------------


@register(
    "d11_canonical_survivor",
    oracle=f"""
    WITH canon AS ({_D05_ORACLE}),
    m AS (
      SELECT c.canonical_id, d.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.canonical_id
                                ORDER BY d.n_chars DESC, d.doc_id ASC)
               AS rn,
             COUNT(*) OVER (PARTITION BY c.canonical_id) AS n_members
      FROM canon c JOIN documents d ON c.doc_id = d.doc_id)
    SELECT canonical_id, doc_id AS survivor_id,
           n_chars AS survivor_chars, n_members
    FROM m WHERE rn = 1 AND n_members > 1
    """,
    note="D11 survivorship policy: within each near-dup cluster "
    "(d05's transitive closure) keep the HIGHEST-QUALITY member "
    "(longest text, doc_id tiebreak) instead of d05's min-id — the "
    "keep-the-best-duplicate rule real corpus curation wants (the "
    "longer crawl of the same page usually carries the full "
    "content). One join from cluster labels to the quality column "
    "and one rank window partitioned by cluster — cluster-sized "
    "work after the components fixpoint; at 100 TB any quality "
    "score (n02's composite, a perplexity) drops into the ORDER BY "
    "unchanged. Deterministic tiebreak makes the survivor exact "
    "cross-engine; only multi-member clusters emit (singletons have "
    "nothing to survive).",
)
def d11_canonical_survivor(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    from ..operators.components import connected_components

    # Build (doc_id, canonical_id) directly from the components
    # fixpoint instead of re-joining documents through d05's output
    # (r18, guide §2.4): d05 is docs LEFT JOIN labels; d11 then
    # joined docs AGAIN for n_chars — two corpus-sized joins on
    # doc_id where one carries both columns. Same values by
    # construction (canonical_id = coalesce(comp, doc_id), exactly
    # d05's definition; d11 never reads is_dup), pinned by the
    # full-value oracle. One documents scan and one join instead of
    # two of each — at 100 TB, a whole corpus read+shuffle gone.
    pairs = d03_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = docs.join(cc, docs["doc_id"] == cc["node"], "left").select(
        "doc_id",
        F.coalesce("comp", "doc_id").alias("canonical_id"),
        "n_chars",
    )
    w = Window.partitionBy("canonical_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wc = Window.partitionBy("canonical_id")
    return (
        m.select(
            "canonical_id",
            "doc_id",
            "n_chars",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n_members"),
        )
        .filter((F.col("rn") == 1) & (F.col("n_members") > 1))
        .select(
            "canonical_id",
            F.col("doc_id").alias("survivor_id"),
            F.col("n_chars").alias("survivor_chars"),
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# D12: incremental LSH index maintenance — new arrivals pair against
# the existing index; old-vs-old is NEVER re-paired
# ---------------------------------------------------------------------------


@register(
    "d12_incremental_lsh_maintenance",
    oracle=_D02_ORACLE
    + " WHERE (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)",
    note="D12 incremental near-dup maintenance — the ingestion-time "
    "face of d02 and THE pattern that keeps 100 TB dedup affordable: "
    "when a delta batch arrives (here the deterministic doc_id%10=0 "
    "slice, d10's base(+)delta discipline), only delta-vs-index and "
    "delta-vs-delta candidates are generated — the delta's band rows "
    "join the banded index on (band, bkey), so work scales with "
    "|delta| x bucket occupancy, never with |corpus|^2, and the "
    "old-vs-old pairs the full d02 recompute would re-derive are "
    "never touched. The delta side carries NO broadcast hint (r11, "
    "ADVICE: F.broadcast is mandatory and AQE never demotes it — an "
    "unconditional hint OOMs when a backfill-sized delta arrives); "
    "AQE sizes the runtime strategy itself, broadcasting a "
    "day's-arrivals delta and falling back to a shuffled join on the "
    "same (band, bkey) keys for large ones. Equivalence contract, "
    "driver-checked: output == the FULL d02 recompute restricted to "
    "pairs with a delta member; the pytest invariant additionally "
    "proves d02(full) == d02(base-only pairs) UNION this query.",
)
def d12_incremental_lsh_maintenance(spark: SparkSession, sf_dir: str):
    return incremental_lsh_pairs(spark, sf_dir, delta_mod=10)


def incremental_lsh_pairs(
    spark: SparkSession, sf_dir: str, delta_mod: int
):
    """d12's parameterized core: pairs with at least one member in
    the doc_id % `delta_mod` == 0 delta slice. `delta_mod=10` is the
    registered day's-arrivals shape; `delta_mod=1` is a BACKFILL —
    the delta IS the corpus, output == the full d02 pair set — used
    by the r12 AQE probe (tests/test_plans.py) to show the runtime
    picks a shuffled join once the delta outgrows broadcast size."""
    d = tf(spark, sf_dir, "documents")
    # ONE evaluation of the shingle->minhash->band pipeline; the
    # "stored index" is the banded corpus, the delta is a filter of it
    all_bands = _minhash_bands(d)
    delta_bands = all_bands.filter(F.col("doc_id") % delta_mod == 0)
    # no broadcast hint: AQE picks broadcast for small deltas on its
    # own and keeps the shuffled-join escape hatch for large ones —
    # a mandatory hint would pin broadcast at ANY delta size
    joined = all_bands.alias("x").join(
        delta_bands.alias("y"),
        on=[
            F.col("x.band") == F.col("y.band"),
            F.col("x.bkey") == F.col("y.bkey"),
            F.col("x.doc_id") != F.col("y.doc_id"),
        ],
    )
    return (
        joined.select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# N24: MinHash estimator calibration — does signature agreement track
# exact Jaccard? (the d-family's analogue of v11's recall audit)
# ---------------------------------------------------------------------------

_N24_AGREE_SQL = " + ".join(
    f"(CASE WHEN pa.m{i} = pb.m{i} THEN 1 ELSE 0 END)"
    for i in range(MINHASH_H)
)

_N24_JAC_SQL = (
    "round(CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) "
    "AS DOUBLE) / len(list_distinct(list_concat(sa.sh, sb.sh))), 9)"
)

_N24_ORACLE = (
    _sig_sql()
    + f", bands AS ({_bands_sql()}), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM bands a JOIN bands b "
    "ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id), "
    "scored AS (SELECT "
    f"({_N24_AGREE_SQL}) AS n_agree, "
    f"{_N24_JAC_SQL} AS jac "
    "FROM cand c "
    "JOIN sig pa ON c.doc_a = pa.doc_id "
    "JOIN sig pb ON c.doc_b = pb.doc_id "
    "JOIN sh_t sa ON c.doc_a = sa.doc_id "
    "JOIN sh_t sb ON c.doc_b = sb.doc_id) "
    "SELECT n_agree, "
    f"CAST(n_agree AS DOUBLE) / {MINHASH_H} AS est_similarity, "
    "COUNT(*) AS n_pairs, "
    + dsum_sql("jac", scale=9)
    + " AS sum_jaccard FROM scored GROUP BY 1, 2"
)


@register(
    "n24_minhash_calibration",
    oracle=_N24_ORACLE,
    note="N24 MinHash calibration audit (the d-family's v11: measure "
    "the estimator, don't trust it): for every LSH candidate pair, "
    "the per-component signature agreement k (E[k/H] = true Jaccard, "
    "Broder 1997) is binned against EXACT shingle Jaccard — the "
    "(n_agree, n_pairs, sum_jaccard) table IS the calibration curve "
    "(mean exact similarity per estimated level = sum/n, one "
    "client-side division), which tells an operator whether the d02 "
    "banding threshold is tuned for their corpus before committing "
    "a 100 TB dedup pass to it. Costs: the signature table is "
    "materialized ONCE (localCheckpoint at the md5 layer, the "
    "d03-documented reuse discipline), bands and the twice-joined "
    "per-side signatures derive from it, exact Jaccard is scored on "
    "candidates only, and the output is <= H+1 rows. Float policy: "
    "per-pair jaccard rhu(9) then DECIMAL-summed (base.py dsum).",
)
def n24_minhash_calibration(spark: SparkSession, sf_dir: str):
    d = tf(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokenize(F.col("text")).alias("tok"))
    sh_df = tok.select(
        "doc_id",
        shingles_from_tokens(F.col("tok"), k=SHINGLE_K).alias("sh"),
    )
    # materialize shingles + per-shingle md5 ONCE: everything below
    # (signatures, bands, both pair sides, exact Jaccard) reads this
    # table, and without the checkpoint Catalyst's project-collapse
    # would inline the md5 transform into every consumer
    hh_tbl = sh_df.select(
        "doc_id", "sh", F.transform(F.col("sh"), F.md5).alias("hh")
    ).localCheckpoint()
    sig = hh_tbl.select(
        "doc_id",
        "sh",
        *[
            _spark_minhash(F.col("hh"), i).alias(f"m{i}")
            for i in range(MINHASH_H)
        ],
    )
    # the pair list is materialized too: both joins are then planned
    # once from exact sizes, not re-planned by AQE in whatever order
    # the pair and signature stages happen to finish
    cand = _pairs_from_bands(
        _bands_from_sig(sig.drop("sh"))
    ).localCheckpoint()
    side = lambda tag: sig.select(  # noqa: E731
        F.col("doc_id").alias(f"doc_{tag}"),
        F.col("sh").alias(f"sh_{tag}"),
        *[F.col(f"m{i}").alias(f"m{i}_{tag}") for i in range(MINHASH_H)],
    )
    paired = cand.join(side("a"), "doc_a").join(side("b"), "doc_b")
    n_agree = sum(
        F.when(F.col(f"m{i}_a") == F.col(f"m{i}_b"), 1).otherwise(0)
        for i in range(MINHASH_H)
    )
    inter = F.size(F.array_distinct(F.array_intersect("sh_a", "sh_b")))
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    jac = F.round(inter.cast("double") / union, 9)
    return (
        paired.select(n_agree.alias("n_agree"), jac.alias("jac"))
        .groupBy("n_agree")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            dsum(F.col("jac"), scale=9).alias("sum_jaccard"),
        )
        .select(
            "n_agree",
            (F.col("n_agree").cast("double") / MINHASH_H).alias(
                "est_similarity"
            ),
            "n_pairs",
            "sum_jaccard",
        )
    )
