"""E3 ML queries (SURVEY.md §2.10, all coverages.R:186-231).

The feature table itself is SQL-expressible and oracle-checked
(m00). The RF stages are not SQL-expressible, so their registered
queries emit ENGINE-INVARIANT outputs — quantities that are a pure
function of the data + the deterministic md5 split (test counts per
label, scored-row counts) plus model invariants reported as booleans
(accuracy over the floor, importances non-negative and summing to 1,
the separating feature ranked top). Those ARE hash-matchable by a
DuckDB oracle (the counts from the same split SQL, the booleans as
literal TRUE), so every ML query can show a green driver CORRECTNESS
row; exact tree shapes stay guarded by tests/test_ml.py, which pins
the full confusion matrix and importance ranking at a fixed local
partitioning.

The fitted forest is memoized (base.ModelMemo) so the m01/m02/m04
queries (which the driver calls back-to-back) train once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hex_threshold, md5_sql
from ..ml.coverage import feature_importances, score, train_eval
from ..operators.sample import deterministic_split
from .base import ModelMemo, dsum, dsum_sql, local_df, register, t

FEATURE_COLS = ["n_lines", "sum_qty", "sum_price", "max_disc", "n_parts"]

_FEATURES_SQL = f"""
  SELECT l_orderkey,
         COUNT(*) AS n_lines,
         SUM(l_quantity) AS sum_qty,
         {dsum_sql('l_extendedprice')} AS sum_price,
         MAX(l_discount) AS max_disc,
         COUNT(DISTINCT l_partkey) AS n_parts,
         CASE WHEN SUM(l_quantity) > 150 THEN 'large'
              WHEN SUM(l_quantity) > 75 THEN 'medium'
              ELSE 'small' END AS label
  FROM lineitem
  GROUP BY l_orderkey
"""


def order_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order feature table + deterministic label.

    The label is a pure function of sum_qty (a feature), making the
    task separable — the reference's analogue is the engineered
    defender-position features feeding the coverage label
    (all coverages.R:186-206). sum(l_quantity) is integral, so the
    double sum is exact; sum_price uses the decimal-sum policy.
    """
    li = t(spark, sf_dir, "lineitem")
    sum_qty = F.sum("l_quantity")
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        sum_qty.alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_price"),
        F.max("l_discount").alias("max_disc"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.when(sum_qty > 150, "large")
        .when(sum_qty > 75, "medium")
        .otherwise("small")
        .alias("label"),
    )


# The exact hex-prefix predicates of the md5 75/25 split used by
# train_eval (operators/sample.py, salt='123', key=l_orderkey) — the
# oracle reproduces row-for-row which orders are held out.
_TRAIN_PRED = (
    f"substr({md5_sql('l_orderkey', salt='123')}, 1, 13)"
    f" < '{hex_threshold(0.75)}'"
)
_TEST_PRED = f"NOT ({_TRAIN_PRED})"

# Accuracy floor for the green/red boolean: the label is a pure
# function of sum_qty (a feature), so any correctly-plumbed forest
# scores near-1.0; 0.9 matches the pytest floor.
ACC_FLOOR = 0.9

_RF_CACHE = ModelMemo()


def _fitted(spark: SparkSession, sf_dir: str):
    """(model, scored held-out set, accuracy); only the scored frame
    is rebuilt per call, in the caller's session."""
    feats = order_features(spark, sf_dir)

    def train():
        model, _scored, acc = train_eval(
            feats, FEATURE_COLS, label_col="label", id_cols=["l_orderkey"]
        )
        return model, acc

    model, acc = _RF_CACHE.get(
        spark, sf_dir, "lineitem", tuple(FEATURE_COLS), train
    )
    _train, test = deterministic_split(
        feats, key_cols=["l_orderkey"], train_fraction=0.75
    )
    return model, score(model, test), acc


@register(
    "m00_ml_feature_table",
    oracle=_FEATURES_SQL,
    note="E3 feature engineering (all coverages.R:118-152 shape): one "
    "grouped aggregation builds every model input — a single shuffle on "
    "the training key, no row explosion.",
)
def m00_ml_feature_table(spark, sf_dir):
    return order_features(spark, sf_dir)


@register(
    "m01_rf_train_confusion",
    oracle=f"""
    WITH feats AS ({_FEATURES_SQL}),
    test AS (SELECT * FROM feats WHERE {_TEST_PRED})
    SELECT label, COUNT(*) AS n_test,
           TRUE AS recall_ge_half, TRUE AS accuracy_ge_floor
    FROM test GROUP BY label
    """,
    note="M1+M3: RandomForest fit (seed 222, all coverages.R:201-206) + "
    "confusion-matrix invariants on the held-out 25% (:209-214). The "
    "per-label test counts are a pure function of the md5 split (the "
    "oracle recomputes them row-for-row); majority-recall per class "
    "and the 0.9 accuracy floor are emitted as booleans the oracle "
    "pins to TRUE — engine-invariant, hence hash-matchable, while the "
    "exact confusion cells stay pinned by tests/test_ml.py. Scoring "
    "is a narrow map (model broadcast); the confusion reduce is one "
    "tiny shuffle.",
)
def m01_rf_train_confusion(spark, sf_dir):
    _model, scored, acc = _fitted(spark, sf_dir)
    per = scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(
            F.when(F.col("predicted_label") == F.col("label"), 1).otherwise(0)
        ).alias("n_correct"),
    )
    return per.select(
        "label",
        "n_test",
        (F.col("n_correct") * 2 > F.col("n_test")).alias("recall_ge_half"),
        F.lit(bool(acc >= ACC_FLOOR)).alias("accuracy_ge_floor"),
    )


@register(
    "m02_rf_predict_counts",
    oracle=f"""
    WITH feats AS ({_FEATURES_SQL})
    SELECT COUNT(*) AS n_scored,
           CAST(3 AS BIGINT) AS n_pred_classes,
           TRUE AS preds_in_label_set
    FROM feats WHERE {_TEST_PRED}
    """,
    note="M2: model.transform over the held-out set — scoring is a "
    "narrow map (model broadcast), scales to any table size. "
    "Registered output is the engine-invariant contract of the "
    "scoring pass: every held-out row scored exactly once (n_scored "
    "== the oracle's recomputed test count), all 3 classes predicted, "
    "every prediction drawn from the label vocabulary. The per-class "
    "prediction histogram (partitioning-sensitive via tree shapes) "
    "is pinned by tests/test_ml.py instead.",
)
def m02_rf_predict_counts(spark, sf_dir):
    _model, scored, _acc = _fitted(spark, sf_dir)
    return scored.agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.countDistinct("predicted_label").alias("n_pred_classes"),
        F.every(
            F.col("predicted_label").isin("large", "medium", "small")
        ).alias("preds_in_label_set"),
    )


@register(
    "m04_rf_feature_importances",
    oracle=f"""
    SELECT feature,
           feature = 'sum_qty' AS is_top_feature,
           TRUE AS importance_nonneg,
           TRUE AS sums_to_one
    FROM (VALUES {", ".join(f"('{f}')" for f in FEATURE_COLS)})
         AS t(feature)
    """,
    note="M4: per-feature Gini importances (all coverages.R:217-227); "
    "tiny driver-side vector re-exposed as rows. Registered output is "
    "the importance vector's engine-invariant contract: one row per "
    "feature, all importances >= 0 and summing to 1 (Gini "
    "normalization), and sum_qty — the feature the label is a pure "
    "function of — ranked top (pytest pins its share > 0.5, so the "
    "argmax is robust to partitioning-dependent tree variation). "
    "Exact values are pinned by tests/test_ml.py.",
)
def m04_rf_feature_importances(spark, sf_dir):
    model, _scored, _acc = _fitted(spark, sf_dir)
    imps = feature_importances(model, FEATURE_COLS)
    total = sum(v for _, v in imps)
    top = max(imps, key=lambda fv: fv[1])[0]
    return local_df(
        spark,
        [
            (f, f == top, v >= 0.0, abs(total - 1.0) < 1e-6)
            for f, v in imps
        ],
        "feature string, is_top_feature boolean, "
        "importance_nonneg boolean, sums_to_one boolean",
    )


@register(
    "m05_random_split_counts",
    oracle=f"""
    WITH feats AS ({_FEATURES_SQL})
    SELECT 'train' AS split, COUNT(*) AS n FROM feats
    WHERE {_TRAIN_PRED}
    UNION ALL
    SELECT 'test' AS split, COUNT(*) AS n FROM feats
    WHERE {_TEST_PRED}
    """,
    note="M5: the 75/25 split feeding the RF chain (all coverages."
    "R:193-199), as the md5 hex-prefix hash split (operators/"
    "sample.py) — partition-invariant and exactly reproducible by "
    "the oracle, unlike randomSplit whose row assignment depends on "
    "partition layout (SURVEY §5; o05 proves the same mechanism on "
    "customer). A narrow filter per side + a count — no shuffle "
    "beyond the feature build; rows never migrate between sides on "
    "re-partition, the property a training pipeline needs.",
)
def m05_random_split_counts(spark, sf_dir):
    feats = order_features(spark, sf_dir)
    train, test = deterministic_split(
        feats, key_cols=["l_orderkey"], train_fraction=0.75
    )
    tr = train.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("train").alias("split"), "n"
    )
    te = test.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("test").alias("split"), "n"
    )
    return tr.unionByName(te)


# ---------------------------------------------------------------------------
# M6: decision stump trained by exhaustive split search — the one model
# whose TRAINING is deterministic and SQL-expressible, giving the ML
# family a full value oracle (the RF stages stay rows-only by nature)
# ---------------------------------------------------------------------------

STUMP_FEATURES = ("l_quantity", "l_discount", "l_extendedprice")
STUMP_QS = (0.25, 0.5, 0.75)


_TH_CACHE = ModelMemo()


def _collect_thresholds(li, sf_dir: str, approx: bool = False) -> list:
    """Phase 1 of m06/m10/m11 — candidate thresholds: ONE
    percentile-array aggregate per feature (each feature's values
    buffer once, not once per quantile), then collect the 9 scalars.
    The collect is metadata-sized by construction (features x
    quantiles — the k-means-scalar class of driver action) and lets
    later phases run with LITERAL thresholds. Memoized in _TH_CACHE:
    the exact-percentile object aggregate is the single most expensive
    scan the tree family runs, and every tree trainer shares the same
    9 candidates.

    ``approx=True`` is the PRODUCTION-SCALE path (BASELINE.md): exact
    `percentile` buffers every value of the feature per aggregation
    state — O(rows) memory, fine at bench scale, wrong at 100 TB —
    while `percentile_approx` folds a bounded ~O(accuracy) sketch
    (Greenwald-Khanna) that merges map-side. Split CANDIDATES only
    need to be reasonable cut points, not exact order statistics, so
    the tree contract is unchanged; the exact spelling stays the
    registered default solely for DuckDB oracle bit-parity."""

    def train():
        fn = "percentile_approx" if approx else "percentile"
        qs = ", ".join(str(q) for q in STUMP_QS)
        extra = ", 10000" if approx else ""
        qrow = li.agg(
            *[
                F.expr(f"{fn}({f}, array({qs}){extra})").alias(f)
                for f in STUMP_FEATURES
            ]
        ).collect()[0]
        return [(f, float(v)) for f in STUMP_FEATURES for v in qrow[f]]

    return _TH_CACHE.get(
        li.sparkSession, sf_dir, "lineitem",
        (STUMP_FEATURES, STUMP_QS, approx), train,
    )


def _stump_oracle() -> str:
    cand_selects = []
    for f in STUMP_FEATURES:
        for q in STUMP_QS:
            cand_selects.append(
                f"SELECT '{f}' AS feature, "
                f"quantile_cont({f}, {q}) AS threshold FROM lineitem"
            )
    # DISTINCT (review r7): if two quantiles of one feature coincide
    # (heavily discretized columns), the duplicate candidate would
    # otherwise double every count in the cross-join aggregation —
    # the Spark side's identical duplicate candidates produce
    # identical single-count rows that the argmax dedups naturally
    cands = (
        "SELECT DISTINCT feature, threshold FROM ("
        + " UNION ALL ".join(cand_selects)
        + ")"
    )
    ent = (
        "CASE WHEN {p} IN (0.0, 1.0) OR isnan({p}) THEN 0.0 "
        "ELSE -({p}) * ln({p}) - (1.0 - {p}) * ln(1.0 - {p}) END"
    )
    feat_val = " ".join(
        f"WHEN c.feature = '{f}' THEN l.{f}" for f in STUMP_FEATURES
    )
    return f"""
    WITH cands AS ({cands}),
    scored AS (
      SELECT c.feature, c.threshold,
             CASE WHEN (CASE {feat_val} END) <= c.threshold
                  THEN 1 ELSE 0 END AS side_left,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem l CROSS JOIN cands c),
    agg AS (
      SELECT feature, threshold,
             SUM(side_left) AS n_l,
             SUM(1 - side_left) AS n_r,
             SUM(side_left * pos) AS pos_l,
             SUM((1 - side_left) * pos) AS pos_r,
             COUNT(*) AS n, SUM(pos) AS pos_all
      FROM scored GROUP BY feature, threshold),
    gains AS (
      SELECT feature, threshold, n_l, n_r,
             ({ent.format(p="CAST(pos_all AS DOUBLE) / n")})
             - (CAST(n_l AS DOUBLE) / n)
               * ({ent.format(p="CAST(pos_l AS DOUBLE) / n_l")})
             - (CAST(n_r AS DOUBLE) / n)
               * ({ent.format(p="CAST(pos_r AS DOUBLE) / n_r")}) AS gain
      FROM agg WHERE n_l > 0 AND n_r > 0)
    SELECT feature, threshold,
           floor(gain * 1e9 + 0.5) / 1e9 AS gain,
           CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right
    FROM gains
    QUALIFY ROW_NUMBER() OVER (
      ORDER BY floor(gain * 1e9 + 0.5) / 1e9 DESC,
               feature ASC, threshold ASC) = 1
    """


@register(
    "m06_decision_stump",
    oracle=_stump_oracle(),
    note="M6 deterministic ML training with a FULL value oracle: a "
    "depth-1 decision stump fit by exhaustive split search — "
    f"candidate thresholds are the {STUMP_QS} quantiles of each of "
    f"{len(STUMP_FEATURES)} features (percentile parity proven by "
    "a09), scored by information gain on the l_returnflag='R' label "
    "from INTEGER class counts (one pass: rows x 9 candidates, "
    "map-side combined), winner picked on 9-decimal-rounded gain "
    "with (feature, threshold) tie-breaks so a 1-ulp ln() divergence "
    "between engines cannot flip the argmax. The training loop of "
    "every tree ensemble, expressed as one declarative plan — and "
    "the ML family's only training-stage query the DuckDB oracle "
    "can verify value-for-value (the RF stages stay rows-only by "
    "nature).",
)
def m06_decision_stump(spark, sf_dir):
    from pyspark.sql import Window

    from ..functions.rounding import rhu

    li = t(spark, sf_dir, "lineitem")
    thresholds = _collect_thresholds(li, sf_dir)

    # Phase 2 — score ALL candidate splits in one codegen'd
    # conditional aggregation over one scan: 2 integer sums per
    # candidate, no row expansion (the crossJoin form materialized
    # rows x candidates — 5.4M intermediate rows at sf0.1 — and ran
    # 2x slower end-to-end).
    #
    # Expressions are assembled as SQL strings, one F.expr per
    # aggregate and ONE for the candidate inline (r18, guide §1.2
    # "per-task work" applied to the DRIVER's plan build): the old
    # per-Column spelling issued ~3.5k py4j round-trips — measured
    # 0.5-0.9 s of fn() wall per call at ANY data size, more than
    # the 0.25 s distributed scan it was building. Same expression
    # trees, same values ({x!r}D double literals round-trip exactly);
    # the full-value oracle and the goldens pin the parity.
    pos_sql = "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"
    aggs = []
    for i, (feat, th) in enumerate(thresholds):
        left = f"CASE WHEN {feat} <= {th!r}D THEN 1 ELSE 0 END"
        aggs.append(F.expr(f"sum({left})").alias(f"nl{i}"))
        aggs.append(F.expr(f"sum(({left}) * ({pos_sql}))").alias(f"pl{i}"))
    row = li.agg(
        *aggs,
        F.count(F.lit(1)).alias("n"),
        F.expr(f"sum({pos_sql})").alias("pos_all"),
    )
    structs = ", ".join(
        f"named_struct('feature', '{feat}', 'threshold', {th!r}D, "
        f"'n_l', nl{i}, 'n_r', n - nl{i}, "
        f"'pos_l', pl{i}, 'pos_r', pos_all - pl{i})"
        for i, (feat, th) in enumerate(thresholds)
    )
    agg = row.selectExpr(f"inline(array({structs}))", "n", "pos_all")

    def ent(p):
        return (
            f"CASE WHEN {p} IN (0.0D, 1.0D) OR isnan({p}) THEN 0.0D "
            f"ELSE (-({p})) * ln({p}) - (1.0D - {p}) * ln(1.0D - {p}) "
            "END"
        )

    p_all = "(CAST(pos_all AS DOUBLE) / n)"
    p_l = "(CAST(pos_l AS DOUBLE) / n_l)"
    p_r = "(CAST(pos_r AS DOUBLE) / n_r)"
    gain = (
        f"{ent(p_all)} "
        f"- (CAST(n_l AS DOUBLE) / n) * {ent(p_l)} "
        f"- (CAST(n_r AS DOUBLE) / n) * {ent(p_r)}"
    )
    gains = agg.filter("n_l > 0 AND n_r > 0").select(
        F.col("feature"),
        F.col("threshold"),
        rhu(F.expr(gain)).alias("gain"),
        F.col("n_l").alias("n_left"),
        F.col("n_r").alias("n_right"),
    )
    rk = F.row_number().over(
        Window.orderBy(
            F.desc("gain"), F.asc("feature"), F.asc("threshold")
        )
    )
    # 9 candidate rows: the single-partition global-order window is
    # metadata-sized by construction (cf. operators/rank.py contract)
    return gains.withColumn("rk", rk).filter(F.col("rk") == 1).drop("rk")


# ---------------------------------------------------------------------------
# M7: RF per-tree introspection — the reference's getTree/treesize walk
# ---------------------------------------------------------------------------

RF_NUM_TREES = 50  # train_eval default, mirrored here for the oracle
RF_MAX_DEPTH = 5  # RandomForestClassifier default maxDepth


@register(
    "m07_rf_tree_stats",
    oracle=f"""
    SELECT CAST(t.r AS BIGINT) AS tree_id,
           TRUE AS depth_in_range,
           TRUE AS nodes_bound_by_depth
    FROM range({RF_NUM_TREES}) t(r)
    """,
    note="M7: per-tree depth/node-count export via model.trees — the "
    "reference's getTree/treesize/varUsed introspection (all "
    "coverages.R:217-231), closing SURVEY §2.10's last sliver. "
    "Registered output is the forest's engine-invariant structural "
    "contract: exactly RF_NUM_TREES trees (tree_id 0..49 — the oracle "
    "enumerates them, so a missing/extra tree fails the row count), "
    "each with 1 <= depth <= maxDepth and a node count inside the "
    "binary-tree bounds [2*depth+1, 2^(depth+1)-1]. Exact shapes are "
    "partitioning-dependent (per-tree Poisson bagging seeds by input "
    "partition), so they're pinned by tests/test_ml.py at the fixture "
    "parallelism instead. Driver-side cost: one tuple per tree.",
)
def m07_rf_tree_stats(spark, sf_dir):
    from ..ml.coverage import tree_stats

    model, _scored, _acc = _fitted(spark, sf_dir)
    stats = tree_stats(model)
    return local_df(
        spark,
        [
            (
                i,
                1 <= d <= RF_MAX_DEPTH,
                2 * d + 1 <= n <= 2 ** (d + 1) - 1,
            )
            for i, d, n in stats
        ],
        "tree_id long, depth_in_range boolean, "
        "nodes_bound_by_depth boolean",
    )


@register(
    "m07b_rf_var_used",
    oracle=f"""
    SELECT CAST(t.r AS BIGINT) AS tree_id, f.feature,
           TRUE AS splits_nonneg,
           TRUE AS splits_sum_matches_internal,
           TRUE AS forest_top_is_sum_qty
    FROM range({RF_NUM_TREES}) t(r)
    CROSS JOIN (VALUES {", ".join(f"('{f}')" for f in FEATURE_COLS)})
         f(feature)
    """,
    note="M7b: per-tree split-VARIABLE usage via model.trees debug "
    "parse — the varUsed/getTree per-node residue of all "
    "coverages.R:220-227 (m07 exports depth/node counts; this "
    "exports which features each tree actually splits on, the "
    "per-node dump aggregated to its useful grain). Registered "
    "output is the engine-invariant contract over the full "
    "RF_NUM_TREES x features grid: every count >= 0, every tree's "
    "counts SUM to its internal-node count ((numNodes-1)/2 — a "
    "non-vacuous parse check: a missed or double-counted split line "
    "breaks it), and the forest-wide argmax is sum_qty (the feature "
    "the label is a function of; m04 pins its importance share). "
    "Exact per-tree counts are partitioning-dependent (Poisson "
    "bagging), so tests/test_ml.py pins the invariants plus "
    "forest-total dominance at fixture parallelism. Driver cost: "
    "num_trees x num_features tuples of model metadata.",
)
def m07b_rf_var_used(spark, sf_dir):
    from ..ml.coverage import var_used

    model, _scored, _acc = _fitted(spark, sf_dir)
    vu = var_used(model, FEATURE_COLS)
    by_tree: dict = {}
    totals: dict = {}
    for tid, feat, n, ni in vu:
        s, _ = by_tree.get(tid, (0, 0))
        by_tree[tid] = (s + n, ni)
        totals[feat] = totals.get(feat, 0) + n
    forest_top = max(totals.items(), key=lambda kv: (kv[1], kv[0]))[0]
    return local_df(
        spark,
        [
            (
                tid,
                feat,
                n >= 0,
                by_tree[tid][0] == by_tree[tid][1],
                forest_top == "sum_qty",
            )
            for tid, feat, n, _ni in vu
        ],
        "tree_id long, feature string, splits_nonneg boolean, "
        "splits_sum_matches_internal boolean, "
        "forest_top_is_sum_qty boolean",
    )


# ---------------------------------------------------------------------------
# M8: exact ROC AUC via the Mann-Whitney rank statistic
# ---------------------------------------------------------------------------

AUC_BINS = 3  # score rounding (decimals) -> <= 1001 distinct bins


@register(
    "m08_roc_auc",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(l_returnflag = 'R' AS INT) AS y,
             floor(1.0 / (1.0 + exp(-(3.0 * l_discount + 2.0 * l_tax
                                      - 0.5)))
                   * 1e{AUC_BINS} + 0.5) / 1e{AUC_BINS} AS s
      FROM lineitem),
    bins AS (
      SELECT s, COUNT(*) AS n, SUM(y) AS n_pos FROM scored GROUP BY s),
    cum AS (
      SELECT a.s, a.n, a.n_pos,
             COALESCE(SUM(b.n), 0) AS n_before
      FROM bins a LEFT JOIN bins b ON b.s < a.s
      GROUP BY a.s, a.n, a.n_pos),
    tot AS (
      SELECT SUM(n_pos) AS np, SUM(n) - SUM(n_pos) AS nn,
             SUM(n_pos * (n_before + (n + 1) / 2.0)) AS rank_sum_pos
      FROM cum)
    SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           floor((rank_sum_pos - np * (np + 1) / 2.0) / (np * nn)
                 * 1e9 + 0.5) / 1e9 AS auc
    FROM tot
    """,
    note=f"M8 exact ROC AUC from the Mann-Whitney rank statistic "
    "with midrank tie handling — the evaluation-stage op every "
    "classifier pipeline needs, computed WITHOUT a global sort: "
    f"scores round to {AUC_BINS} decimals (histogram-AUC, the "
    "standard distributed practice — sklearn-exact on the binned "
    "scores), so the bin table is <= 1001 rows BY CONSTRUCTION "
    "however large the scan. One map-side-combined groupBy builds "
    "the histogram; the cumulative-below-bin counts come from a "
    "bins-x-bins broadcast range join (dimension-sized, never a "
    "row-level window — a global ORDER BY window here would funnel "
    "every row through one task, the w04 anti-pattern); midranks "
    "(n_before + (n+1)/2) are half-integers, exact in double, so "
    "only the final AUC division rounds. Label: l_returnflag='R' "
    "(m06's target); score: a fixed sigmoid of discount/tax — a "
    "stand-in for any model's calibrated output (m02's RF scores "
    "plug into the same plan).",
)
def m08_roc_auc(spark: SparkSession, sf_dir: str):
    from ..functions.rounding import rhu

    li = t(spark, sf_dir, "lineitem")
    s = rhu(
        1.0
        / (
            1.0
            + F.exp(
                -(3.0 * F.col("l_discount") + 2.0 * F.col("l_tax") - 0.5)
            )
        ),
        AUC_BINS,
    )
    scored = li.select(
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
        s.alias("s"),
    )
    # materialize the histogram before the self-join: Catalyst does
    # not reuse self-referenced subtrees across join sides (the d03
    # pattern), so without this the full lineitem scan + groupBy ran
    # TWICE (review r7). <= 1001 bins — the checkpoint is tiny.
    bins = scored.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
    ).localCheckpoint()
    cum = (
        bins.alias("a")
        .join(
            F.broadcast(bins.select(F.col("s").alias("s_b"),
                                    F.col("n").alias("n_b"))),
            F.col("s_b") < F.col("a.s"),
            "left",
        )
        .groupBy("a.s", "a.n", "a.n_pos")
        .agg(F.coalesce(F.sum("n_b"), F.lit(0)).alias("n_before"))
    )
    tot = cum.agg(
        F.sum("n_pos").alias("np"),
        (F.sum("n") - F.sum("n_pos")).alias("nn"),
        F.sum(
            F.col("n_pos")
            * (F.col("n_before") + (F.col("n") + 1) / 2.0)
        ).alias("rank_sum_pos"),
    )
    return tot.select(
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
        rhu(
            (F.col("rank_sum_pos") - F.col("np") * (F.col("np") + 1) / 2.0)
            / (F.col("np") * F.col("nn")),
            9,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# M9: feature hashing (the hashing trick) — fixed-dim categorical encoding
# ---------------------------------------------------------------------------

FH_DIM = 8


def _fh_sql(fname: str, fval_expr: str) -> str:
    """(index, sign) of one hashed feature: md5 of 'name=value', first
    4 hex chars mod D for the bucket, 14th hex char's low range for
    the sign (independent digest slices, minhash precedent)."""
    digest = f"md5('{fname}=' || {fval_expr})"
    return (
        f"SELECT o_orderkey, "
        f"CAST(('0x' || substr({digest}, 1, 4)) AS BIGINT) % {FH_DIM} "
        f"AS idx, "
        f"CASE WHEN substr({digest}, 14, 1) < '8' THEN 1 ELSE -1 END "
        f"AS sgn FROM orders"
    )


def _m09_oracle() -> str:
    feats = " UNION ALL ".join(
        [
            _fh_sql("priority", "o_orderpriority"),
            _fh_sql("status", "o_orderstatus"),
            _fh_sql("cust", "CAST(o_custkey AS VARCHAR)"),
        ]
    )
    cols = ", ".join(
        f"CAST(COALESCE(SUM(CASE WHEN idx = {d} THEN sgn END), 0) "
        f"AS BIGINT) AS h{d}"
        for d in range(FH_DIM)
    )
    return f"WITH f AS ({feats}) SELECT o_orderkey, {cols} FROM f GROUP BY o_orderkey"


@register(
    "m09_feature_hashing",
    oracle=_m09_oracle(),
    note=f"M9 feature hashing (the hashing trick): categorical "
    f"features — including the HIGH-cardinality customer key, the "
    "case one-hot/StringIndexer cannot handle without an unbounded "
    f"vocabulary — map into a fixed {FH_DIM}-dim signed vector via "
    "md5(name=value): bucket from one digest slice, ±1 sign from "
    "another (the sign trick keeps collision noise zero-mean, "
    "Weinberger et al. 2009). No fitted dictionary, no vocabulary "
    "shuffle, no train/serve skew: the encoding is a pure row-local "
    "function, so train and inference compute it independently and "
    "identically — THE property that makes it the default encoder "
    "for web-scale sparse models. Plan: ONE projection, ZERO "
    "shuffles (r12 — the previous spelling union'd 3 scans and "
    "grouped by o_orderkey, but o_orderkey is the row's unique key, "
    "so that aggregation only ever merged features of the SAME row: "
    "the whole encoder is the row-local sum of 3 conditional ±1 "
    "terms per bucket, the shape the note always claimed); "
    "everything integer and md5-derived, so the vectors hash-match "
    "the oracle exactly.",
)
def m09_feature_hashing(spark: SparkSession, sf_dir: str):
    o = t(spark, sf_dir, "orders")

    def feat(fname, col):
        digest = F.md5(F.concat(F.lit(f"{fname}="), col))
        idx = (
            F.conv(F.substring(digest, 1, 4), 16, 10).cast("bigint")
            % FH_DIM
        )
        sgn = F.when(F.substring(digest, 14, 1) < "8", 1).otherwise(-1)
        return idx, sgn

    feats = [
        feat("priority", F.col("o_orderpriority")),
        feat("status", F.col("o_orderstatus")),
        feat("cust", F.col("o_custkey").cast("string")),
    ]
    cols = []
    for d in range(FH_DIM):
        h = None
        for idx, sgn in feats:
            term = F.when(idx == d, sgn).otherwise(0)
            h = term if h is None else h + term
        cols.append(h.cast("long").alias(f"h{d}"))
    return o.select("o_orderkey", *cols)


# ---------------------------------------------------------------------------
# M10: depth-2 decision tree — the full train -> predict -> confusion
# chain with an EXACT per-cell value oracle (m01's RF confusion cells
# are partitioning-sensitive and pytest-only; every cell here is not)
# ---------------------------------------------------------------------------

TREE_FALLBACK_TH = 1e308  # "no valid child split": everything goes left


def _feat_case(row_alias: str, cand_alias: str) -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN {cand_alias}.feature = '{f}' THEN {row_alias}.{f}"
            for f in STUMP_FEATURES
        )
        + " END"
    )


def _tree_oracle() -> str:
    # DISTINCT for the same duplicate-quantile reason as _stump_oracle
    cand_selects = (
        "SELECT DISTINCT feature, threshold FROM ("
        + " UNION ALL ".join(
            f"SELECT '{f}' AS feature, "
            f"quantile_cont({f}, {q}) AS threshold FROM lineitem"
            for f in STUMP_FEATURES
            for q in STUMP_QS
        )
        + ")"
    )
    ent = (
        "CASE WHEN {p} IN (0.0, 1.0) OR isnan({p}) THEN 0.0 "
        "ELSE -({p}) * ln({p}) - (1.0 - {p}) * ln(1.0 - {p}) END"
    )
    return f"""
    WITH cands AS ({cand_selects}),
    root AS (
      SELECT feature, threshold FROM ({_stump_oracle()})
      UNION ALL
      SELECT 'none', {TREE_FALLBACK_TH}
      WHERE NOT EXISTS (SELECT 1 FROM ({_stump_oracle()}))),
    sides AS (
      SELECT CASE WHEN r.feature = 'none' THEN 'L'
                  WHEN {_feat_case('l', 'r')} <= r.threshold
                  THEN 'L' ELSE 'R' END AS side,
             l.l_quantity, l.l_discount, l.l_extendedprice,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem l CROSS JOIN root r),
    cscored AS (
      SELECT s.side, c.feature, c.threshold,
             CASE WHEN {_feat_case('s', 'c')} <= c.threshold
                  THEN 1 ELSE 0 END AS side_left,
             s.pos
      FROM sides s CROSS JOIN cands c),
    cagg AS (
      SELECT side, feature, threshold,
             SUM(side_left) AS n_l, SUM(1 - side_left) AS n_r,
             SUM(side_left * pos) AS pos_l,
             SUM((1 - side_left) * pos) AS pos_r,
             COUNT(*) AS n, SUM(pos) AS pos_all
      FROM cscored GROUP BY 1, 2, 3),
    cgains AS (
      SELECT side, feature, threshold,
             ({ent.format(p="CAST(pos_all AS DOUBLE) / n")})
             - (CAST(n_l AS DOUBLE) / n)
               * ({ent.format(p="CAST(pos_l AS DOUBLE) / n_l")})
             - (CAST(n_r AS DOUBLE) / n)
               * ({ent.format(p="CAST(pos_r AS DOUBLE) / n_r")}) AS gain
      FROM cagg WHERE n_l > 0 AND n_r > 0),
    cwin AS (
      SELECT side, feature, threshold FROM cgains
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY side
        ORDER BY floor(gain * 1e9 + 0.5) / 1e9 DESC,
                 feature ASC, threshold ASC) = 1),
    leaves AS (
      SELECT s.side || CASE WHEN w.feature IS NULL THEN 'L'
                            WHEN {_feat_case('s', 'w')} <= w.threshold
                            THEN 'L' ELSE 'R' END AS leaf,
             COALESCE(w.feature, 'none') AS child_feature,
             COALESCE(w.threshold, {TREE_FALLBACK_TH}) AS child_threshold,
             s.pos
      FROM sides s LEFT JOIN cwin w ON s.side = w.side)
    SELECT lv.leaf, r.feature AS root_feature,
           r.threshold AS root_threshold,
           lv.child_feature, lv.child_threshold,
           CASE WHEN 2 * SUM(lv.pos) >= COUNT(*) THEN 'R' ELSE 'N' END
             AS predicted,
           COUNT(*) AS n_rows, CAST(SUM(lv.pos) AS BIGINT) AS n_pos
    FROM leaves lv CROSS JOIN root r
    GROUP BY 1, 2, 3, 4, 5
    """


@register(
    "m10_depth2_tree",
    oracle=_tree_oracle(),
    note="M10 depth-2 decision tree, trained AND evaluated inside the "
    "engine with an exact per-cell oracle — the full chain the "
    "reference runs (all coverages.R:209-214 train -> predict -> "
    "confusion) but deterministic, so DuckDB re-derives every leaf "
    "count value-for-value (m01's RF keeps the invariant-contract "
    "oracle because Poisson bagging is partitioning-sensitive). "
    "Training (the r17 contingency-table design): every level-wise "
    "sum is a function of the per-row descriptor (pos, l0..l8 — the "
    "label plus 9 candidate-threshold indicators), whose full "
    "contingency table is <= 128 rows AT ANY DATA SIZE, so ONE "
    "map-side-combined scan aggregates it and the exhaustive root/"
    "child search runs as exact integer arithmetic on the driver "
    "over that bounded table (the k-means-sufficient-statistics "
    "class of driver action; plus the 9 memoized quantile scalars). "
    "Argmax on 9-decimal-rounded information gain with (feature, "
    "threshold) tie-breaks so a 1-ulp ln() divergence cannot flip a "
    "split. 2 scans total at ANY data size (quantiles + contingency) "
    "— the 100 TB cost profile of a sufficient-statistics tree "
    "trainer; the registered DataFrame is the driver-derived leaf "
    "table as a bounded local relation.",
)
def m10_depth2_tree(spark, sf_dir):
    """The root search, both child searches and the four leaf cells
    are all integer sums over the per-row descriptor (pos, l0..l{K-1})
    — the label plus the K candidate threshold indicators. The
    indicators are monotone per feature (3 thresholds -> 4 patterns),
    so the descriptor's full contingency table is <= 2 x 4^|features|
    = 128 rows AT ANY DATA SIZE. One scan aggregates it (map-side
    combined, the k-means-sufficient-statistics class of driver
    action); the level-wise search runs as exact integer arithmetic on
    the driver (rhu(9) gain argmax, (feature, threshold) tie-breaks),
    pinned by the full-value oracle."""
    li = t(spark, sf_dir, "lineitem")
    thresholds = _collect_thresholds(li, sf_dir)
    nth = len(thresholds)

    base = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
        *[
            F.when(F.col(f) <= F.lit(th), 1).otherwise(0).alias(f"l{i}")
            for i, (f, th) in enumerate(thresholds)
        ],
    )
    keys = ["pos"] + [f"l{i}" for i in range(nth)]
    ct = [
        (
            r["pos"],
            tuple(r[f"l{i}"] for i in range(nth)),
            r["cnt"],
        )
        for r in base.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    ]

    # -- level 0: root split over the table's sums --------------------
    n_all = sum(c for _p, _l, c in ct)
    pos_all = sum(c * _p for _p, _l, c in ct)
    nl = [0] * nth
    pl = [0] * nth
    for _p, lv, c in ct:
        cp = c * _p
        for i in range(nth):
            if lv[i]:
                nl[i] += c
                pl[i] += cp
    root = _pick_split(
        [
            (f, th, nl[i], n_all - nl[i], pl[i], pos_all - pl[i],
             n_all, pos_all)
            for i, (f, th) in enumerate(thresholds)
        ]
        if n_all > 0
        else []
    )
    root_f, root_th = root if root else ("none", TREE_FALLBACK_TH)
    root_idx = (
        None
        if root_f == "none"
        else next(
            i
            for i, (f, th) in enumerate(thresholds)
            if f == root_f and th == root_th
        )
    )

    def _in_left(lv):
        return 1 if root_idx is None else lv[root_idx]

    # -- level 1: both children, from the same table ------------------
    sums = {
        s: {"n": 0, "pos": 0, "nl": [0] * nth, "pl": [0] * nth}
        for s in ("L", "R")
    }
    for _p, lv, c in ct:
        s = "L" if _in_left(lv) else "R"
        cp = c * _p
        sums[s]["n"] += c
        sums[s]["pos"] += cp
        for i in range(nth):
            if lv[i]:
                sums[s]["nl"][i] += c
                sums[s]["pl"][i] += cp
    child = {}
    for s in ("L", "R"):
        n_s, pos_s = sums[s]["n"], sums[s]["pos"]
        won = _pick_split(
            [
                (f, th, sums[s]["nl"][i], n_s - sums[s]["nl"][i],
                 sums[s]["pl"][i], pos_s - sums[s]["pl"][i], n_s, pos_s)
                for i, (f, th) in enumerate(thresholds)
            ]
            if n_s > 0
            else []
        )
        child[s] = won if won else ("none", TREE_FALLBACK_TH)
    child_idx = {}
    for s in ("L", "R"):
        f_w, th_w = child[s]
        child_idx[s] = (
            None
            if f_w == "none"
            else next(
                i
                for i, (f, th) in enumerate(thresholds)
                if f == f_w and th == th_w
            )
        )

    # -- evaluate: per-leaf class counts from the same table ----------
    def _leaf_of(lv):
        s = "L" if _in_left(lv) else "R"
        ci = child_idx[s]
        if ci is None:
            second = "L"
        else:
            second = "L" if lv[ci] else "R"
        return s + second

    leaf_n = {leaf: 0 for leaf in ("LL", "LR", "RL", "RR")}
    leaf_p = dict(leaf_n)
    for _p, lv, c in ct:
        leaf = _leaf_of(lv)
        leaf_n[leaf] += c
        leaf_p[leaf] += c * _p
    rows = [
        (
            leaf,
            root_f,
            float(root_th),
            child[leaf[0]][0],
            float(child[leaf[0]][1]),
            "R" if 2 * leaf_p[leaf] >= leaf_n[leaf] else "N",
            leaf_n[leaf],
            leaf_p[leaf],
        )
        for leaf in ("LL", "LR", "RL", "RR")
        if leaf_n[leaf] > 0
    ]
    return local_df(
        spark,
        rows,
        "leaf string, root_feature string, root_threshold double, "
        "child_feature string, child_threshold double, "
        "predicted string, n_rows long, n_pos long",
    )


# ---------------------------------------------------------------------------
# M11: deterministic bagged ensemble — the driver-verifiable FOREST
# (VERDICT r7 item 2). m01's randomForest parity is Poisson-bagged and
# partitioning-sensitive, so its confusion matrix can only ever be
# invariant-checked; m11 replaces the two stochastic ingredients with
# deterministic, oracle-expressible analogues:
#   - bagging  -> md5-keyed 63.2% subsamples (subagging: Buhlmann &
#     Yu's subsample bagging; 0.632 = the expected bootstrap coverage),
#     one 6-hex-char slice of a shared per-row md5 per tree, so
#     membership is a pure function of the row key in BOTH engines;
#   - mtry     -> a deterministic feature subspace per tree (tree t
#     drops STUMP_FEATURES[t % 3]), giving structural diversity the
#     shared-threshold trees would otherwise lack.
# Each tree is an m10-style depth-2 tree trained level-wise; the
# ensemble is evaluated the way randomForest's printed confusion is —
# OUT-OF-BAG majority vote (each row voted on only by trees that did
# NOT train on it; rows in-bag everywhere are excluded).
# Reference: all coverages.R:201-214 (train -> OOB confusion).
#
# Scan profile (the 100 TB shape, r12): 1 quantile scan (memoized
# in _TH_CACHE) + 2 conditional-agg training scans (ALL 5
# roots in one scan; ALL 10 children's LEFT sides in one scan — the
# R sides are bag-minus-left against scan 1's whole-bag sums, and
# ALL 20 leaf stats are the chosen child candidates' sums from scan
# 2, both pure integer arithmetic on already-collected values) + 1
# vote scan. Driver actions are metadata-sized: 9 quantiles, ~80
# root integers, ~80 child integers. 3 data scans steady-state at
# ANY data size (4 cold).
# ---------------------------------------------------------------------------

T_TREES = 5
BAG_FRACTION = 0.632
# Membership for ALL trees derives from ONE md5 per row: tree t reads
# hex chars [6t+1, 6t+6] of md5('bag', key) and compares against the
# 24-bit threshold — 5 independent 24-bit uniforms from one 128-bit
# digest (5 x 6 = 30 <= 32 hex chars), one hash instead of five per
# row per scan (the difference between 15.8 s and ~6 s at sf0.1).
BAG_DIGITS = 6


def _dropped_feature(tid: int) -> str:
    return STUMP_FEATURES[tid % 3]


def _rent(p: float) -> float:
    import math

    if p in (0.0, 1.0) or math.isnan(p):
        return 0.0
    return -p * math.log(p) - (1.0 - p) * math.log(1.0 - p)


def _pick_split(cands: list):
    """argmax by (9-decimal-rounded gain desc, feature asc, threshold
    asc) over (feature, threshold, n_l, n_r, pos_l, pos_r, n, pos_all)
    tuples; None when no candidate splits both ways. Identical to the
    m10-local pick(), shared by the ensemble trainer."""
    import math

    best = None
    for f, th, n_l, n_r, pos_l, pos_r, n, p_all in cands:
        if n_l <= 0 or n_r <= 0:
            continue
        gain = (
            _rent(p_all / n)
            - (n_l / n) * _rent(pos_l / n_l)
            - (n_r / n) * _rent(pos_r / n_r)
        )
        rg = math.floor(gain * 1e9 + 0.5) / 1e9
        key = (-rg, f, th)
        if best is None or key < best[0]:
            best = (key, (f, th))
    return best[1] if best else None


def _maj(np_: int, n: int) -> str:
    return "R" if 2 * np_ >= n else "N"


def _dropped_case_sql(alias: str) -> str:
    return (
        f"CASE {alias}.tree_id "
        + " ".join(
            f"WHEN {tid} THEN '{_dropped_feature(tid)}'"
            for tid in range(T_TREES)
        )
        + " END"
    )


def _ensemble_oracle() -> str:
    th_hex = hex_threshold(BAG_FRACTION, BAG_DIGITS)
    ent = (
        "CASE WHEN {p} IN (0.0, 1.0) OR isnan({p}) THEN 0.0 "
        "ELSE -({p}) * ln({p}) - (1.0 - {p}) * ln(1.0 - {p}) END"
    )
    member = " UNION ALL ".join(
        f"SELECT l_orderkey, l_linenumber, l_quantity, l_discount, "
        f"l_extendedprice, "
        f"CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos, "
        f"{tid} AS tree_id, "
        f"CASE WHEN substr({md5_sql('l_orderkey', 'l_linenumber', salt='bag')}, {BAG_DIGITS * tid + 1}, {BAG_DIGITS}) "
        f"< '{th_hex}' THEN 1 ELSE 0 END AS w "
        f"FROM lineitem"
        for tid in range(T_TREES)
    )
    cands = (
        "SELECT DISTINCT feature, threshold FROM ("
        + " UNION ALL ".join(
            f"SELECT '{f}' AS feature, "
            f"quantile_cont({f}, {q}) AS threshold FROM lineitem"
            for f in STUMP_FEATURES
            for q in STUMP_QS
        )
        + ")"
    )

    def gains(src: str, part_cols: str) -> str:
        p_all = "CAST(pos_all AS DOUBLE) / n"
        p_l = "CAST(pos_l AS DOUBLE) / n_l"
        p_r = "CAST(pos_all - pos_l AS DOUBLE) / (n - n_l)"
        return f"""
      SELECT {part_cols}, feature, threshold,
             ({ent.format(p=p_all)})
             - (CAST(n_l AS DOUBLE) / n) * ({ent.format(p=p_l)})
             - (CAST(n - n_l AS DOUBLE) / n) * ({ent.format(p=p_r)})
               AS gain
      FROM {src} WHERE n_l > 0 AND n_l < n"""

    return f"""
    WITH cands AS ({cands}),
    member AS ({member}),
    ragg AS (
      SELECT m.tree_id, c.feature, c.threshold,
             SUM(m.w * CASE WHEN {_feat_case('m', 'c')} <= c.threshold
                            THEN 1 ELSE 0 END) AS n_l,
             SUM(m.w * CASE WHEN {_feat_case('m', 'c')} <= c.threshold
                            THEN 1 ELSE 0 END * m.pos) AS pos_l,
             SUM(m.w) AS n, SUM(m.w * m.pos) AS pos_all
      FROM member m JOIN cands c ON c.feature <> {_dropped_case_sql('m')}
      GROUP BY 1, 2, 3),
    rgain AS ({gains('ragg', 'tree_id')}),
    rwin AS (
      SELECT tree_id, feature, threshold FROM rgain
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY tree_id
        ORDER BY floor(gain * 1e9 + 0.5) / 1e9 DESC,
                 feature ASC, threshold ASC) = 1),
    root AS (
      SELECT g.tree_id, COALESCE(r.feature, 'none') AS feature,
             COALESCE(r.threshold, {TREE_FALLBACK_TH}) AS threshold
      FROM (SELECT DISTINCT tree_id FROM member) g
      LEFT JOIN rwin r USING (tree_id)),
    sides AS (
      SELECT m.*, CASE WHEN r.feature = 'none'
                         OR {_feat_case('m', 'r')} <= r.threshold
                       THEN 'L' ELSE 'R' END AS side
      FROM member m JOIN root r USING (tree_id)),
    cagg AS (
      SELECT s.tree_id, s.side, c.feature, c.threshold,
             SUM(s.w * CASE WHEN {_feat_case('s', 'c')} <= c.threshold
                            THEN 1 ELSE 0 END) AS n_l,
             SUM(s.w * CASE WHEN {_feat_case('s', 'c')} <= c.threshold
                            THEN 1 ELSE 0 END * s.pos) AS pos_l,
             SUM(s.w) AS n, SUM(s.w * s.pos) AS pos_all
      FROM sides s JOIN cands c ON c.feature <> {_dropped_case_sql('s')}
      GROUP BY 1, 2, 3, 4),
    cgain AS ({gains('cagg', 'tree_id, side')}),
    cwin AS (
      SELECT tree_id, side, feature, threshold FROM cgain
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY tree_id, side
        ORDER BY floor(gain * 1e9 + 0.5) / 1e9 DESC,
                 feature ASC, threshold ASC) = 1),
    child AS (
      SELECT g.tree_id, g.side, COALESCE(w.feature, 'none') AS feature,
             COALESCE(w.threshold, {TREE_FALLBACK_TH}) AS threshold
      FROM (SELECT DISTINCT tree_id, side FROM sides) g
      LEFT JOIN cwin w USING (tree_id, side)),
    assign AS (
      SELECT s.tree_id, s.l_orderkey, s.l_linenumber,
             s.l_quantity, s.l_discount, s.l_extendedprice,
             s.pos, s.w, s.side,
             s.side || CASE WHEN ch.feature = 'none'
                              OR {_feat_case('s', 'ch')} <= ch.threshold
                            THEN 'L' ELSE 'R' END AS leaf
      FROM sides s
      JOIN child ch ON s.tree_id = ch.tree_id AND s.side = ch.side),
    leafstats AS (
      SELECT tree_id, leaf, SUM(w) AS n, SUM(w * pos) AS np
      FROM assign GROUP BY 1, 2),
    sidestats AS (
      SELECT tree_id, side, SUM(w) AS ns, SUM(w * pos) AS nps
      FROM assign GROUP BY 1, 2),
    treestats AS (
      SELECT tree_id, SUM(w) AS nt, SUM(w * pos) AS npt
      FROM assign GROUP BY 1),
    leafpred AS (
      SELECT ls.tree_id, ls.leaf,
             CASE WHEN ls.n > 0
                  THEN CASE WHEN 2 * ls.np >= ls.n THEN 'R' ELSE 'N' END
                  WHEN ss.ns > 0
                  THEN CASE WHEN 2 * ss.nps >= ss.ns THEN 'R' ELSE 'N' END
                  WHEN ts.nt > 0
                  THEN CASE WHEN 2 * ts.npt >= ts.nt THEN 'R' ELSE 'N' END
                  ELSE 'N' END AS predicted
      FROM leafstats ls
      JOIN sidestats ss
        ON ls.tree_id = ss.tree_id AND substr(ls.leaf, 1, 1) = ss.side
      JOIN treestats ts ON ls.tree_id = ts.tree_id),
    oob AS (
      -- (l_orderkey, l_linenumber) is NOT unique in the synthetic
      -- lineitem, so group by key + features + pos: physical
      -- duplicates share membership (key-hashed) AND leaf (feature-
      -- determined), so their votes are identical and the per-group
      -- assign-row count is dup_count * T trees — recover the
      -- physical multiplicity as COUNT(*) / T for n_rows, while the
      -- scaled votes_r/n_oob leave the majority predicate unchanged
      SELECT a.l_orderkey, a.l_linenumber,
             a.l_quantity, a.l_discount, a.l_extendedprice, a.pos,
             SUM(CASE WHEN a.w = 0 AND lp.predicted = 'R'
                      THEN 1 ELSE 0 END) AS votes_r,
             SUM(1 - a.w) AS n_oob,
             CAST(COUNT(*) / {T_TREES} AS BIGINT) AS n_dup
      FROM assign a
      JOIN leafpred lp ON a.tree_id = lp.tree_id AND a.leaf = lp.leaf
      GROUP BY 1, 2, 3, 4, 5, 6)
    SELECT CASE WHEN pos = 1 THEN 'R' ELSE 'N' END AS actual,
           CASE WHEN 2 * votes_r >= n_oob THEN 'R' ELSE 'N' END
             AS predicted,
           CAST(votes_r / n_dup AS BIGINT) AS votes_r,
           CAST(n_oob / n_dup AS BIGINT) AS n_oob,
           CAST(SUM(n_dup) AS BIGINT) AS n_rows
    FROM oob WHERE n_oob > 0
    GROUP BY 1, 2, 3, 4
    """


@register(
    "m11_bagged_ensemble",
    oracle=_ensemble_oracle(),
    note="M11 deterministic bagged ensemble with a FULL value oracle "
    "— the driver-verifiable forest m01's randomForest parity "
    "(all coverages.R:201-214) can never be: Poisson bagging and "
    "per-node mtry draws are partitioning-sensitive, so m11 swaps "
    "them for md5-keyed 63.2% subsamples (deterministic subagging; "
    "tree t reads its own 6-hex slice of one shared per-row digest) "
    "and a fixed per-tree feature subspace (tree "
    "t drops feature t%3). 5 depth-2 trees train level-wise in 3 "
    "shared conditional-aggregate scans (ALL roots in one scan, ALL "
    "children in one, ALL leaf stats in one — m10's layout batched "
    "across trees), then ONE vote scan evaluates the OUT-OF-BAG "
    "majority-vote confusion matrix — the same estimate "
    "randomForest's printed confusion reports. Every cell is an "
    "integer DuckDB re-derives exactly. Driver actions stay "
    "metadata-sized (quantiles + split-candidate integer sums); 5 "
    "scans total at any data size.",
)
def m11_bagged_ensemble(spark, sf_dir):
    return _bagged_ensemble_impl(spark, sf_dir, approx=False)


def bagged_ensemble_approx(spark, sf_dir):
    """The documented production-scale variant of m11 (VERDICT r8
    item 7, BASELINE.md): identical trainer, but split candidates come
    from `percentile_approx` (bounded-memory mergeable sketch) instead
    of exact `percentile` (O(rows) aggregation buffer). Not registered
    as a driver query — approx thresholds are engine-specific so no
    bit-parity oracle exists — but pytest proves the TREE CONTRACT
    (schema, OOB row conservation, per-class actual totals, majority
    rule) equal to the exact path on the fixture."""
    return _bagged_ensemble_impl(spark, sf_dir, approx=True)


def _bagged_ensemble_impl(spark, sf_dir, approx: bool, on_ct=None):
    """Every aggregate the trainer needs — root sums, children-left
    sums, derived leaf stats, and the OOB vote histogram — is a
    function of ONE per-row binary descriptor: (pos, w0..w{T-1}, l0..l{K-1}), i.e. the
    label, the T bagging memberships (md5 slices vs one threshold) and
    the K candidate-split indicators. The l-indicators are monotone
    per feature (3 thresholds -> 4 distinct patterns), so the FULL
    contingency table of the descriptor has at most
    2 x 2^T x 4^|features| = 4096 rows AT ANY DATA SIZE.

    So: ONE scan aggregates that table (15 narrow int keys, map-side
    combined — the k-means-sufficient-statistics class of driver
    action), and root picking, child picking, leaf majorities and the
    OOB confusion rollup run as exact integer arithmetic over those
    <= 4096 rows on the driver: one data scan, and a size-independent
    collect. Every quantity is an integer sum of cnt x 0/1 products,
    pinned by the m11 full-value oracle and the pytest goldens.

    The bagging hash is materialized ONCE per row in its own
    projection (bag_h) and the T membership flags read substrings of
    that column: referenced T times, md5 is non-cheap, so
    CollapseProject keeps the stage and the digest is computed once
    (inlined into each CASE arm it would be evaluated per arm, with no
    common-subexpression elimination in FilterExec). fan_out on the (l_orderkey, l_linenumber) row id
    (guide §2.5, unsplittable-input case) parallelizes the md5 + CASE
    work when the scan is a single split; it is a no-op at scale.
    """
    li = t(spark, sf_dir, "lineitem")
    thresholds = _collect_thresholds(li, sf_dir, approx=approx)
    th_hex = hex_threshold(BAG_FRACTION, BAG_DIGITS)

    from ..functions.hashing import md5_of
    from ..sources.io import fan_out

    nth = len(thresholds)
    cands = {
        tid: [
            (i, f, th)
            for i, (f, th) in enumerate(thresholds)
            if f != _dropped_feature(tid)
        ]
        for tid in range(T_TREES)
    }

    bag_hash = md5_of(
        F.col("l_orderkey"), F.col("l_linenumber"), salt="bag"
    )
    raw = li.select(
        "l_orderkey", "l_linenumber", "l_returnflag", *STUMP_FEATURES
    )
    base = (
        fan_out(raw, "l_orderkey", "l_linenumber")
        .select("l_returnflag", *STUMP_FEATURES, bag_hash.alias("bag_h"))
        .select(
            F.when(F.col("l_returnflag") == "R", 1)
            .otherwise(0)
            .alias("pos"),
            *[
                F.when(
                    F.substring(
                        "bag_h", BAG_DIGITS * tid + 1, BAG_DIGITS
                    )
                    < th_hex,
                    1,
                )
                .otherwise(0)
                .alias(f"w{tid}")
                for tid in range(T_TREES)
            ],
            *[
                F.expr(
                    f"CASE WHEN {f} <= {th!r}D THEN 1 ELSE 0 END"
                ).alias(f"l{i}")
                for i, (f, th) in enumerate(thresholds)
            ],
        )
    )
    keys = (
        ["pos"]
        + [f"w{tid}" for tid in range(T_TREES)]
        + [f"l{i}" for i in range(nth)]
    )
    ct_df = base.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    if on_ct is not None:
        # test/audit hook: the registered output is a driver-built
        # local relation, so this hands the distributed contingency
        # scan to plan audits (the exchange byte-ceiling test)
        on_ct(ct_df)
    ct = [
        (
            r["pos"],
            tuple(r[f"w{tid}"] for tid in range(T_TREES)),
            tuple(r[f"l{i}"] for i in range(nth)),
            r["cnt"],
        )
        for r in ct_df.collect()
    ]

    def _cand_idx(f_th):
        """Threshold index of a chosen (f, th) split — the Python twin
        of the old plans' literal `f <= th` columns (always one of the
        K candidates; duplicate (f, th) candidates share identical
        indicator values, so first-match lookup is value-safe, same as
        the old code)."""
        f_w, th_w = f_th
        return next(
            i
            for i, (f, thv) in enumerate(thresholds)
            if f == f_w and thv == th_w
        )

    # -- roots: the old scan 1's sums, in ONE pass over the table -----
    trng = range(T_TREES)
    irng = range(nth)
    nw = [0] * T_TREES
    pw = [0] * T_TREES
    nwl = [[0] * nth for _ in trng]
    pwl = [[0] * nth for _ in trng]
    for _p, w, lv, c in ct:
        cp = c * _p
        for tid in trng:
            if w[tid]:
                nw[tid] += c
                pw[tid] += cp
                nwl_t, pwl_t = nwl[tid], pwl[tid]
                for i in irng:
                    if lv[i]:
                        nwl_t[i] += c
                        pwl_t[i] += cp
    root, tree_tot = {}, {}
    for tid in trng:
        n_all, p_all = nw[tid], pw[tid]
        tree_tot[tid] = (n_all, p_all)
        won = _pick_split(
            [
                (
                    f,
                    thv,
                    nwl[tid][i],
                    n_all - nwl[tid][i],
                    pwl[tid][i],
                    p_all - pwl[tid][i],
                    n_all,
                    p_all,
                )
                for i, f, thv in cands[tid]
            ]
            if n_all > 0
            else []
        )
        root[tid] = won if won else ("none", TREE_FALLBACK_TH)

    # -- children: the old scan 2's left-side sums (one pass) + the
    # derived R sides (bag minus left, the r12 discipline) ------------
    root_idx = {
        tid: (None if root[tid][0] == "none" else _cand_idx(root[tid]))
        for tid in trng
    }
    nl_ = [0] * T_TREES
    pl_ = [0] * T_TREES
    nll = [[0] * nth for _ in trng]
    pll = [[0] * nth for _ in trng]
    for _p, w, lv, c in ct:
        cp = c * _p
        for tid in trng:
            ri = root_idx[tid]
            if w[tid] and (ri is None or lv[ri]):
                nl_[tid] += c
                pl_[tid] += cp
                nll_t, pll_t = nll[tid], pll[tid]
                for i in irng:
                    if lv[i]:
                        nll_t[i] += c
                        pll_t[i] += cp
    side_tot, csum, child = {}, {}, {}
    for tid in trng:
        n_t, p_t = tree_tot[tid]
        side_tot[(tid, "L")] = (nl_[tid], pl_[tid])
        side_tot[(tid, "R")] = (n_t - nl_[tid], p_t - pl_[tid])
        for i, _f, _th in cands[tid]:
            csum[(tid, "L", i)] = (nll[tid][i], pll[tid][i])
            csum[(tid, "R", i)] = (
                nwl[tid][i] - nll[tid][i],
                pwl[tid][i] - pll[tid][i],
            )
        for s in ("L", "R"):
            n_s, p_s = side_tot[(tid, s)]
            won = _pick_split(
                [
                    (
                        f,
                        thv,
                        csum[(tid, s, i)][0],
                        n_s - csum[(tid, s, i)][0],
                        csum[(tid, s, i)][1],
                        p_s - csum[(tid, s, i)][1],
                        n_s,
                        p_s,
                    )
                    for i, f, thv in cands[tid]
                ]
                if n_s > 0
                else []
            )
            child[(tid, s)] = won if won else ("none", TREE_FALLBACK_TH)

    # -- leaf majorities: derived from the child sums (r12 discipline:
    # leaf (s, 'L') is exactly the chosen candidate's conditional sum
    # over side s, (s, 'R') its complement; 'none' children route the
    # whole side to the 'L' leaf) ------------------------------------
    leaves = ("LL", "LR", "RL", "RR")
    leaf_pred = {}
    for tid in trng:
        for leaf in leaves:
            s = leaf[0]
            f_w, th_w = child[(tid, s)]
            n_s, p_s = side_tot[(tid, s)]
            if f_w == "none":
                n_lf, p_lf = (n_s, p_s) if leaf[1] == "L" else (0, 0)
            else:
                i_w = next(
                    i
                    for i, f, thv in cands[tid]
                    if f == f_w and thv == th_w
                )
                n_left, p_left = csum[(tid, s, i_w)]
                n_lf = n_left if leaf[1] == "L" else n_s - n_left
                p_lf = p_left if leaf[1] == "L" else p_s - p_left
            nt, npt = tree_tot[tid]
            if n_lf > 0:
                leaf_pred[(tid, leaf)] = _maj(p_lf, n_lf)
            elif n_s > 0:
                leaf_pred[(tid, leaf)] = _maj(p_s, n_s)
            elif nt > 0:
                leaf_pred[(tid, leaf)] = _maj(npt, nt)
            else:
                leaf_pred[(tid, leaf)] = "N"

    # -- OOB majority-vote confusion rollup, over the same table ------
    child_idx = {
        (tid, s): (
            None
            if child[(tid, s)][0] == "none"
            else _cand_idx(child[(tid, s)])
        )
        for tid in trng
        for s in ("L", "R")
    }

    def _leaf_cond(tid, leaf, lvec):
        ri = root_idx[tid]
        in_left = 1 if ri is None else lvec[ri]
        c1 = in_left if leaf[0] == "L" else 1 - in_left
        ci = child_idx[(tid, leaf[0])]
        if ci is None:
            c2 = 1 if leaf[1] == "L" else 0
        else:
            cc = lvec[ci]
            c2 = cc if leaf[1] == "L" else 1 - cc
        return c1 and c2

    r_leaves = {
        tid: [lf for lf in leaves if leaf_pred[(tid, lf)] == "R"]
        for tid in trng
    }
    out: dict[tuple, int] = {}
    for _p, w, lv, c in ct:
        n_oob = sum(1 - w[tid] for tid in trng)
        if n_oob == 0:
            continue
        votes_r = sum(
            (1 - w[tid])
            * (
                1
                if any(
                    _leaf_cond(tid, lf, lv) for lf in r_leaves[tid]
                )
                else 0
            )
            for tid in trng
        )
        key = (
            "R" if _p == 1 else "N",
            "R" if 2 * votes_r >= n_oob else "N",
            votes_r,
            n_oob,
        )
        out[key] = out.get(key, 0) + c

    return local_df(
        spark,
        [(a, p, v, n, c) for (a, p, v, n), c in sorted(out.items())],
        "actual string, predicted string, votes_r long, "
        "n_oob long, n_rows long",
    )


# ---------------------------------------------------------------------------
# M12: calibration bins (reliability diagram as data)
# ---------------------------------------------------------------------------

CALIB_BINS = 10


@register(
    "m12_calibration_bins",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(l_returnflag = 'R' AS INT) AS y,
             floor(1.0 / (1.0 + exp(-(30.0 * l_discount + 20.0 * l_tax
                                      - 2.5)))
                   * 1e{AUC_BINS} + 0.5) / 1e{AUC_BINS} AS s
      FROM lineitem)
    SELECT CAST(least(floor(s * {CALIB_BINS}), {CALIB_BINS - 1}) AS INT)
             AS bin,
           COUNT(*) AS n,
           CAST(SUM(CAST(s AS DECIMAL(28,{AUC_BINS}))) AS DOUBLE)
             / COUNT(*) AS mean_score,
           CAST(SUM(y) AS DOUBLE) / COUNT(*) AS pos_rate,
           abs(CAST(SUM(CAST(s AS DECIMAL(28,{AUC_BINS}))) AS DOUBLE)
                 / COUNT(*)
               - CAST(SUM(y) AS DOUBLE) / COUNT(*)) AS abs_gap
    FROM scored GROUP BY 1
    """,
    note=f"M12 calibration table ({CALIB_BINS} equal-width score bins): "
    "mean predicted probability vs empirical positive rate per bin — "
    "the reliability diagram as data (and |gap| is the per-bin term "
    "of ECE), completing the eval family next to m08's AUC: same "
    "label, same sigmoid-score template, coefficients steepened "
    "(30/20/-2.5 vs m08's 3/2/-0.5) so the fixture's scores span "
    "the diagram instead of pooling in two bins — any model's "
    "calibrated output plugs into the same plan. One "
    "map-side-combined groupBy into "
    f"<= {CALIB_BINS} rows; the score sum is DECIMAL-exact (scores "
    f"carry {AUC_BINS} decimals by construction), both rates are "
    "single IEEE divisions — no rounding needed anywhere downstream. "
    "At 100 TB this is the cheapest possible shape: scan, combine, "
    f"{CALIB_BINS}-row result.",
)
def m12_calibration_bins(spark: SparkSession, sf_dir: str):
    from ..functions.rounding import rhu

    li = t(spark, sf_dir, "lineitem")
    s = rhu(
        1.0
        / (
            1.0
            + F.exp(
                -(
                    30.0 * F.col("l_discount")
                    + 20.0 * F.col("l_tax")
                    - 2.5
                )
            )
        ),
        AUC_BINS,
    )
    scored = li.select(
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
        s.alias("s"),
    )
    bin_c = F.least(
        F.floor(F.col("s") * CALIB_BINS), F.lit(CALIB_BINS - 1)
    ).cast("int")
    agg = scored.groupBy(bin_c.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("s").cast(f"decimal(28,{AUC_BINS})"))
        .cast("double")
        .alias("sum_s"),
        F.sum("y").alias("n_pos"),
    )
    mean_score = F.col("sum_s") / F.col("n")
    pos_rate = F.col("n_pos").cast("double") / F.col("n")
    return agg.select(
        "bin",
        "n",
        mean_score.alias("mean_score"),
        pos_rate.alias("pos_rate"),
        F.abs(mean_score - pos_rate).alias("abs_gap"),
    )


# ---------------------------------------------------------------------------
# M13: the production percentile_approx ensemble, gate-verified
# ---------------------------------------------------------------------------


def _m13_oracle() -> str:
    th_hex = hex_threshold(BAG_FRACTION, BAG_DIGITS)
    n_oob = " + ".join(
        f"CASE WHEN substr("
        f"{md5_sql('l_orderkey', 'l_linenumber', salt='bag')}, "
        f"{BAG_DIGITS * tid + 1}, {BAG_DIGITS}) < '{th_hex}' "
        f"THEN 0 ELSE 1 END"
        for tid in range(T_TREES)
    )
    return f"""
    WITH per_row AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos,
             {n_oob} AS n_oob
      FROM lineitem)
    SELECT CASE WHEN pos = 1 THEN 'R' ELSE 'N' END AS actual,
           CAST(COUNT(*) AS BIGINT) AS n_oob_rows,
           TRUE AS majority_rule_ok,
           TRUE AS votes_bounded
    FROM per_row WHERE n_oob > 0
    GROUP BY 1
    """


@register(
    "m13_bagged_ensemble_approx",
    oracle=_m13_oracle(),
    note="M13 — bagged_ensemble_approx (m11's documented production "
    "swap: split candidates from percentile_approx's mergeable "
    "bounded-memory sketch instead of exact percentile's O(rows) "
    "buffer) registered as a driver-checked query (VERDICT r10 "
    "item 3) rather than pytest-only executed code. Approx "
    "thresholds are engine-specific, so no bit-parity confusion "
    "matrix exists; the a10/a19 invariant pattern applies to the "
    "TREE CONTRACT instead: (1) per-class OOB row totals — exact "
    "integers DuckDB re-derives from the md5 bagging membership "
    "alone, which approx thresholds cannot move; any row the approx "
    "trainer loses, duplicates, or mis-buckets out of the OOB vote "
    "breaks the count — plus (2) majority-rule consistency "
    "(predicted == 'R' iff 2*votes_r >= n_oob on every output row) "
    "and (3) vote bounds (0 <= votes_r <= n_oob <= T) as booleans "
    "the oracle pins to TRUE. Same 3-scan layout and cost model as "
    "m11 (r12: roots scan + children-left scan + vote scan, leaf "
    "stats and R sides derived arithmetically); the ONLY plan delta "
    "is the threshold aggregate (percentile -> percentile_approx).",
)
def m13_bagged_ensemble_approx(spark, sf_dir):
    ens = bagged_ensemble_approx(spark, sf_dir)
    maj_ok = (F.col("predicted") == "R") == (
        2 * F.col("votes_r") >= F.col("n_oob")
    )
    votes_ok = (
        (F.col("votes_r") >= 0)
        & (F.col("votes_r") <= F.col("n_oob"))
        & (F.col("n_oob") >= 1)
        & (F.col("n_oob") <= T_TREES)
    )
    return ens.groupBy("actual").agg(
        F.sum("n_rows").alias("n_oob_rows"),
        F.bool_and(maj_ok).alias("majority_rule_ok"),
        F.bool_and(votes_ok).alias("votes_bounded"),
    )
