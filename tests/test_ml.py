"""E3 ML accuracy-floor test (SURVEY.md §5: the reference's
confusionMatrix check, all coverages.R:209-214, as an assertion).

The label is a deterministic function of one feature (sum_qty
thresholds), so a correctly-wired pipeline must separate the classes
near-perfectly on held-out rows; a broken assembler/indexer/seed
plumbs through as chance-level accuracy.
"""

from __future__ import annotations

from big_data_bowl_spark.ml.coverage import confusion_matrix
from big_data_bowl_spark.queries.ml import FEATURE_COLS, order_features


def test_rf_accuracy_floor(spark, sf_dir):
    feats = order_features(spark, sf_dir)
    from big_data_bowl_spark.ml.coverage import train_eval

    model, scored, acc = train_eval(
        feats, FEATURE_COLS, label_col="label", id_cols=["l_orderkey"]
    )
    assert acc >= 0.9, f"separable label should score >=0.9, got {acc}"


def test_train_eval_runs_one_task_per_core(spark):
    """train_eval reads its input as one sorted partition, so a
    training table that arrives in 32 persisted partitions (out of a
    32-partition shuffle) trains and scores with at most one task per
    core in every stage."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.ml.coverage import train_eval

    sc = spark.sparkContext
    x = F.col("id") % 97
    df = (
        spark.range(400)
        .select(
            "id",
            x.cast("double").alias("x"),
            (F.col("id") % 13).cast("double").alias("y"),
            F.when(x > 48, "hi").otherwise("lo").alias("label"),
        )
        .repartition(32)
        .persist()
    )
    df.count()
    group = "test-train-eval-one-task-per-core"
    sc.setJobGroup(group, "train_eval over 32 partitions")
    try:
        _model, _scored, acc = train_eval(
            df, ["x", "y"], label_col="label", id_cols=["id"], num_trees=5
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        df.unpersist()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    ran = {
        sid: info.numCompletedTasks + info.numFailedTasks
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
        if (info := tracker.getStageInfo(sid)) is not None
    }
    assert ran and max(ran.values()) > 0, ran
    assert max(ran.values()) <= sc.defaultParallelism, ran
    assert acc >= 0.9


def test_confusion_matrix_shape(spark, sf_dir):
    feats = order_features(spark, sf_dir)
    from big_data_bowl_spark.ml.coverage import train_eval

    _model, scored, _acc = train_eval(
        feats, FEATURE_COLS, label_col="label", id_cols=["l_orderkey"]
    )
    cm = confusion_matrix(scored, label_col="label")
    rows = cm.collect()
    labels = {"large", "medium", "small"}
    assert {r.label for r in rows} <= labels
    assert {r.prediction for r in rows} <= labels
    # diagonal dominates: correct cells outnumber off-diagonal ones
    diag = sum(r.n for r in rows if r.label == r.prediction)
    off = sum(r.n for r in rows if r.label != r.prediction)
    assert diag > off


def test_m02_predict_class_counts_golden(spark):
    """VERDICT r2 #4: the md5-stable split + seeded forest make the
    held-out predictions deterministic, so per-class counts are
    pinnable constants (sf0.001, the fixture SF). Routed through the
    fitted model directly — the registered m02 query now emits the
    engine-invariant contract (see test_registered_ml_invariants)."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.queries.ml import _fitted

    _model, scored, _acc = _fitted(spark, "/root/testdata/sf0.001")
    rows = (
        scored.groupBy(F.col("predicted_label").alias("prediction"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert {(r.prediction, r.n) for r in rows} == {
        ("large", 65),
        ("medium", 187),
        ("small", 127),
    }


def test_m04_importance_ordering_golden(spark):
    """sum_qty (the label's sole determinant) must dominate; the full
    ordering is pinned since the fit is deterministic."""
    from big_data_bowl_spark.ml.coverage import feature_importances
    from big_data_bowl_spark.queries.ml import _fitted

    model, _scored, _acc = _fitted(spark, "/root/testdata/sf0.001")
    imps = dict(feature_importances(model, FEATURE_COLS))
    ranked = sorted(imps, key=imps.get, reverse=True)
    assert ranked == ["sum_qty", "n_lines", "n_parts", "sum_price", "max_disc"]
    assert imps["sum_qty"] > 0.5


def test_m01_confusion_matrix_golden(spark):
    from big_data_bowl_spark.queries.ml import _fitted

    _model, scored, _acc = _fitted(spark, "/root/testdata/sf0.001")
    rows = confusion_matrix(scored, label_col="label").collect()
    assert {(r.label, r.prediction, r.n) for r in rows} == {
        ("large", "large", 65),
        ("large", "medium", 9),
        ("medium", "medium", 178),
        ("small", "small", 127),
    }


def test_registered_ml_invariants(spark):
    """The driver-facing m01/m02/m04 outputs: every boolean invariant
    must come out TRUE (that is what their oracles pin), and the
    deterministic counts must match the md5 split."""
    from big_data_bowl_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    m01 = REGISTRY["m01_rf_train_confusion"].fn(spark, sf).collect()
    assert all(r.recall_ge_half and r.accuracy_ge_floor for r in m01)
    assert sum(r.n_test for r in m01) == 379  # test side of the md5 split

    (m02,) = REGISTRY["m02_rf_predict_counts"].fn(spark, sf).collect()
    assert m02.n_scored == 379
    assert m02.n_pred_classes == 3
    assert m02.preds_in_label_set

    m04 = REGISTRY["m04_rf_feature_importances"].fn(spark, sf).collect()
    assert {r.feature for r in m04} == set(FEATURE_COLS)
    assert all(r.importance_nonneg and r.sums_to_one for r in m04)
    assert [r.feature for r in m04 if r.is_top_feature] == ["sum_qty"]


def test_model_persistence_roundtrip(spark, tmp_path):
    """M-family completeness: a fitted PipelineModel must save/load and
    score identically — the deploy path of the training pipeline."""
    from pyspark.ml import PipelineModel

    from big_data_bowl_spark.queries.ml import _fitted

    model, scored, _acc = _fitted(spark, "/root/testdata/sf0.001")
    path = str(tmp_path / "rf_model")
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)

    feats = scored.select(
        "l_orderkey", "n_lines", "sum_qty", "sum_price", "max_disc",
        "n_parts", "label",
    )
    a = {r.l_orderkey: r.prediction for r in model.transform(feats).collect()}
    b = {r.l_orderkey: r.prediction for r in reloaded.transform(feats).collect()}
    assert a == b and len(a) > 0


def test_m01_m02_golden_at_driver_sf(spark):
    """Pin the held-out predictions at sf0.01, the SF the driver's
    rows-only gate runs, not just the sf0.001 fixture. One fit
    (memoized) backs both queries; the md5-stable split, the
    one-sorted-partition training layout and the seeded forest make
    every count a constant of the data
    (test_forest_independent_of_session_shape)."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.queries.ml import _fitted

    sf = "/root/testdata/sf0.01"
    _model, scored, _acc = _fitted(spark, sf)
    m02 = (
        scored.groupBy(F.col("predicted_label").alias("prediction"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert {(r.prediction, r.n) for r in m02} == {
        ("large", 683),
        ("medium", 1725),
        ("small", 1307),
    }
    m01 = confusion_matrix(scored, label_col="label").collect()
    assert {(r.label, r.prediction, r.n) for r in m01} == {
        ("large", "large", 683),
        ("large", "medium", 41),
        ("medium", "medium", 1661),
        ("small", "medium", 23),
        ("small", "small", 1307),
    }


def test_m07_tree_stats_golden(spark):
    """M7 introspection (all coverages.R:217-231): deterministic given
    the seed and the data. The registered query's booleans must all
    hold, and the raw stats match the pinned forest shape."""
    from big_data_bowl_spark.ml.coverage import tree_stats
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.ml import _fitted

    sf = "/root/testdata/sf0.001"
    model, _scored, _acc = _fitted(spark, sf)
    stats = tree_stats(model)
    assert len(stats) == 50
    assert [i for i, _, _ in stats] == list(range(50))
    assert sorted({d for _, d, _ in stats}) == [3, 4, 5]
    assert sum(d for _, d, _ in stats) == 246
    assert sum(n for _, _, n in stats) == 1154
    assert all(2 * d + 1 <= n <= 2 ** (d + 1) - 1 for _, d, n in stats)

    rows = REGISTRY["m07_rf_tree_stats"].fn(spark, sf).collect()
    assert len(rows) == 50
    assert all(r.depth_in_range and r.nodes_bound_by_depth for r in rows)


def test_m08_auc_matches_exact_rank_computation(spark):
    """m08's histogram AUC must equal the exact midrank Mann-Whitney
    AUC computed in pure Python over the same rounded scores, and the
    planted score actually separates (AUC != 0.5 degenerate)."""
    import math

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    row = REGISTRY["m08_roc_auc"].fn(spark, sf).collect()[0]

    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag", "l_discount", "l_tax"
    ).collect()
    pairs = []
    for r in li:
        s = 1.0 / (1.0 + math.exp(-(3.0 * r.l_discount + 2.0 * r.l_tax - 0.5)))
        s = math.floor(s * 1e3 + 0.5) / 1e3
        pairs.append((s, 1 if r.l_returnflag == "R" else 0))
    pairs.sort()
    # midrank assignment over ties
    rank_sum_pos, i = 0.0, 0
    n_pos = sum(y for _s, y in pairs)
    n_neg = len(pairs) - n_pos
    while i < len(pairs):
        j = i
        while j < len(pairs) and pairs[j][0] == pairs[i][0]:
            j += 1
        mid = (i + 1 + j) / 2.0  # average of ranks i+1 .. j
        rank_sum_pos += mid * sum(y for _s, y in pairs[i:j])
        i = j
    auc = (rank_sum_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
    assert row.n_pos == n_pos and row.n_neg == n_neg
    assert abs(row.auc - auc) < 2e-9
    # the synthetic lineitem has no discount/tax -> returnflag signal,
    # so ~0.5 here is the TRUE value, not a degenerate computation
    assert 0.45 < row.auc < 0.55


def test_m08_auc_separates_planted_signal(spark, tmp_path):
    """On a planted table where positives get systematically higher
    discounts, the same query reports near-perfect AUC — proving the
    statistic responds to real signal (the real testdata carries
    none, so this guards against a constant-0.5 implementation)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY

    rows = [("R", 0.08 + (i % 3) * 0.01, 0.02) for i in range(30)] + [
        ("N", 0.00 + (i % 3) * 0.01, 0.02) for i in range(60)
    ]
    pq.write_table(
        pa.table(
            {
                "l_returnflag": pa.array([r[0] for r in rows]),
                "l_discount": pa.array([r[1] for r in rows], pa.float64()),
                "l_tax": pa.array([r[2] for r in rows], pa.float64()),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    got = REGISTRY["m08_roc_auc"].fn(spark, str(tmp_path)).collect()[0]
    assert got.n_pos == 30 and got.n_neg == 60
    assert got.auc > 0.95  # 0.08+ discounts outrank 0.00-0.02 ones


def test_m09_feature_hashing_row_local_and_conserves_mass(spark):
    """Every order deposits exactly 3 signed units (sum of |h_d| <= 3
    with odd signed total — collisions cancel in pairs), and the
    encoding is row-LOCAL: hashing a 1-row slice of the table yields
    the same vector as the full run — the no-train/serve-skew
    property that makes the hashing trick deployable."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["m09_feature_hashing"].fn(spark, sf).collect()
    assert rows
    dims = [c for c in rows[0].asDict() if c.startswith("h")]
    for r in rows[:200]:
        vec = [r[d] for d in dims]
        assert sum(abs(v) for v in vec) <= 3
        assert sum(vec) % 2 == 1

    import tempfile

    from big_data_bowl_spark.sources.io import load_table

    one = load_table(spark, sf, "orders").limit(1)
    key = one.collect()[0].o_orderkey
    with tempfile.TemporaryDirectory() as td:
        one.write.parquet(f"{td}/orders.parquet")
        solo = REGISTRY["m09_feature_hashing"].fn(spark, td).collect()
    assert len(solo) == 1
    full = next(r for r in rows if r.o_orderkey == key)
    assert [solo[0][d] for d in dims] == [full[d] for d in dims]


def test_m10_depth2_tree_refines_the_stump(spark, sf_dir):
    """m10's 4 leaves must partition lineitem exactly, and its level-0
    split must BE m06's stump winner (same candidates, same rounded-
    gain argmax) with the stump's left/right row counts preserved —
    the cross-check that makes the depth-2 chain's confusion cells
    trustworthy without a second engine."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    rows = REGISTRY["m10_depth2_tree"].fn(spark, sf_dir).collect()
    assert {r.leaf for r in rows} <= {"LL", "LR", "RL", "RR"}
    assert len({(r.root_feature, r.root_threshold) for r in rows}) == 1

    n_li = load_table(spark, sf_dir, "lineitem").count()
    assert sum(r.n_rows for r in rows) == n_li
    assert all(0 <= r.n_pos <= r.n_rows for r in rows)
    assert all(
        r.predicted == ("R" if 2 * r.n_pos >= r.n_rows else "N")
        for r in rows
    )

    (stump,) = REGISTRY["m06_decision_stump"].fn(spark, sf_dir).collect()
    assert rows[0].root_feature == stump.feature
    assert rows[0].root_threshold == stump.threshold
    n_left = sum(r.n_rows for r in rows if r.leaf.startswith("L"))
    n_right = sum(r.n_rows for r in rows if r.leaf.startswith("R"))
    assert (n_left, n_right) == (stump.n_left, stump.n_right)


def test_m11_ensemble_oob_invariants(spark, sf_dir):
    """The deterministic bagged ensemble's OOB vote histogram must
    cover (almost) every row: with 5 trees at 63.2% inclusion each,
    P[in-bag everywhere] = .632^5 ~ 10%, so 80-95% of rows carry an
    OOB vote; votes_r <= n_oob <= 5 per cell; membership actually
    varies (multiple distinct n_oob values); and the histogram is
    identical under a different input partitioning (determinism —
    the property Poisson bagging lacks)."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    rows = REGISTRY["m11_bagged_ensemble"].fn(spark, sf_dir).collect()
    n_li = load_table(spark, sf_dir, "lineitem").count()
    covered = sum(r.n_rows for r in rows)
    assert 0.80 * n_li <= covered <= 0.95 * n_li
    assert all(0 <= r.votes_r <= r.n_oob <= 5 for r in rows)
    assert all(r.actual in ("R", "N") and r.predicted in ("R", "N") for r in rows)
    assert all(
        r.predicted == ("R" if 2 * r.votes_r >= r.n_oob else "N")
        for r in rows
    )
    assert len({r.n_oob for r in rows}) >= 2


def test_m07b_var_used_parse_consistency(spark, sf_dir):
    """var_used's debug-string parse must account for every internal
    node of every tree (counts sum to (numNodes-1)/2), and the
    forest-wide split totals must be dominated by sum_qty — the
    feature the label is a pure function of (m04 pins its importance
    share; this pins the same signal at the split-count grain)."""
    from collections import Counter, defaultdict

    from big_data_bowl_spark.ml.coverage import var_used
    from big_data_bowl_spark.queries.ml import FEATURE_COLS, _fitted

    model, _scored, _acc = _fitted(spark, sf_dir)
    vu = var_used(model, FEATURE_COLS)
    assert len(vu) == 50 * len(FEATURE_COLS)
    sums = defaultdict(int)
    internal = {}
    totals = Counter()
    for tid, feat, n, ni in vu:
        assert n >= 0
        sums[tid] += n
        internal[tid] = ni
        totals[feat] += n
    assert all(sums[t] == internal[t] for t in sums)
    assert all(internal[t] >= 1 for t in internal)
    assert totals.most_common(1)[0][0] == "sum_qty"


def test_m11_approx_thresholds_same_tree_contract(spark, sf_dir):
    """VERDICT r8 item 7: the percentile_approx candidate scan (the
    production-scale swap documented in BASELINE.md) is executed code
    with the SAME tree contract as the exact path — identical schema,
    conserved OOB rows, identical per-class actual totals (labels
    don't depend on thresholds), and the majority rule holding on
    every cell. Bit-parity of the cells is NOT asserted (approx
    thresholds may legitimately shift splits)."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.ml import (
        T_TREES,
        bagged_ensemble_approx,
    )

    exact = REGISTRY["m11_bagged_ensemble"].fn(spark, sf_dir)
    approx = bagged_ensemble_approx(spark, sf_dir)
    assert approx.schema == exact.schema

    er = exact.collect()
    ar = approx.collect()
    assert ar, "approx path returned no cells"
    # OOB row conservation: every lineitem row OOB for >=1 tree is
    # counted exactly once in both histograms
    assert sum(r.n_rows for r in ar) == sum(r.n_rows for r in er)
    # actual class totals are threshold-independent
    def by_actual(rows):
        out = {}
        for r in rows:
            out[r.actual] = out.get(r.actual, 0) + r.n_rows
        return out

    assert by_actual(ar) == by_actual(er)
    for r in ar:
        assert 1 <= r.n_oob <= T_TREES
        assert 0 <= r.votes_r <= r.n_oob
        want = "R" if 2 * r.votes_r >= r.n_oob else "N"
        assert r.predicted == want


def test_m12_calibration_bins_contract(spark, sf_dir):
    """m12: bins partition all rows, mean_score lies inside each bin's
    score range, rates in [0,1], abs_gap consistent."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.ml import CALIB_BINS
    from big_data_bowl_spark.sources.io import load_table

    rows = REGISTRY["m12_calibration_bins"].fn(spark, sf_dir).collect()
    n_li = load_table(spark, sf_dir, "lineitem").count()
    assert sum(r.n for r in rows) == n_li
    for r in rows:
        assert 0 <= r.bin < CALIB_BINS
        lo, hi = r.bin / CALIB_BINS, (r.bin + 1) / CALIB_BINS
        # bin CALIB_BINS-1 also absorbs s == 1.0 exactly
        assert lo - 1e-9 <= r.mean_score <= (
            1.0 if r.bin == CALIB_BINS - 1 else hi
        ) + 1e-9
        assert 0.0 <= r.pos_rate <= 1.0
        assert abs(r.abs_gap - abs(r.mean_score - r.pos_rate)) < 1e-12


def test_m13_registered_approx_invariants(spark, sf_dir):
    """m13 (the registered face of bagged_ensemble_approx) must
    aggregate the approx ensemble faithfully: per-class n_oob_rows
    equal to the underlying cell totals AND to a pure-Python count of
    rows OOB in >=1 tree from the md5 bagging membership; both
    contract booleans genuinely computed (TRUE here, and flipping the
    majority rule would flip them)."""
    import hashlib

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.ml import (
        BAG_DIGITS,
        BAG_FRACTION,
        T_TREES,
        bagged_ensemble_approx,
    )
    from big_data_bowl_spark.functions.hashing import hex_threshold
    from big_data_bowl_spark.sources.io import load_table

    got = {
        r.actual: r
        for r in REGISTRY["m13_bagged_ensemble_approx"]
        .fn(spark, sf_dir)
        .collect()
    }
    cells = bagged_ensemble_approx(spark, sf_dir).collect()
    want = {}
    for c in cells:
        want[c.actual] = want.get(c.actual, 0) + c.n_rows
    assert {a: r.n_oob_rows for a, r in got.items()} == want
    assert all(r.majority_rule_ok and r.votes_bounded for r in got.values())

    # independent python recount of the md5 OOB membership
    th = hex_threshold(BAG_FRACTION, BAG_DIGITS)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    ).collect()
    counts = {}
    for r in li:
        h = hashlib.md5(
            f"bag\x1f{r.l_orderkey}\x1f{r.l_linenumber}".encode()
        ).hexdigest()
        n_oob = sum(
            1
            for tid in range(T_TREES)
            if not h[BAG_DIGITS * tid : BAG_DIGITS * (tid + 1)] < th
        )
        if n_oob > 0:
            a = "R" if r.l_returnflag == "R" else "N"
            counts[a] = counts.get(a, 0) + 1
    assert {a: r.n_oob_rows for a, r in got.items()} == counts


_RESTART_SCRIPT = """
import json, sys
from big_data_bowl_spark.queries import REGISTRY
from big_data_bowl_spark.session import get_spark

sf_dir = sys.argv[1]
for _ in range(2):
    spark = get_spark(cpus="2", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps({
        q: sorted(repr(tuple(r)) for r in REGISTRY[q].fn(spark, sf_dir).collect())
        for q in ("m01_rf_train_confusion", "m06_decision_stump",
                  "v04_ivf_topk")
    }))
    spark.stop()
"""


def test_trained_models_survive_session_restart(sf_dir):
    """Trained model values are memoized per Spark application: after
    stop() and a fresh session, the forest (m01), the split thresholds
    (m06) and the IVF centroids (v04) serve the new session and return
    the same rows. In a subprocess, because the fixture session is
    shared by the whole run."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, sf_dir],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    first, second = (
        json.loads(ln) for ln in out.stdout.splitlines() if ln.startswith("{")
    )
    assert all(first.values()), first
    assert first == second


_SHAPE_SCRIPT = """
import json, sys
from pyspark.sql import functions as F
from big_data_bowl_spark.ml.coverage import train_eval
from big_data_bowl_spark.session import get_spark

spark = get_spark(cpus=sys.argv[1])
spark.sparkContext.setLogLevel("ERROR")
for n_shuffle in sys.argv[2:]:
    spark.conf.set("spark.sql.shuffle.partitions", n_shuffle)
    h = F.xxhash64("id")
    x = (h % 1000).cast("double") / 10.0
    df = spark.range(600).select(
        "id",
        x.alias("x"),
        (F.xxhash64("id", F.lit(1)) % 97).cast("double").alias("y"),
        (F.xxhash64("id", F.lit(2)) % 89).cast("double").alias("z"),
        # noisy label: the forest's bagging decides the close calls
        F.when(x + (F.xxhash64("id", F.lit(3)) % 40) > 20, "hi")
        .otherwise("lo").alias("label"),
    ).repartition(int(n_shuffle), "id")
    _model, scored, acc = train_eval(
        df, ["x", "y", "z"], label_col="label", id_cols=["id"], num_trees=8
    )
    print(json.dumps({
        "acc": acc,
        "pred": sorted(
            (r.id, r.prediction, r.probability.toArray().tolist())
            for r in scored.collect()
        ),
    }))
spark.stop()
"""


def test_forest_independent_of_session_shape():
    """The same rows give the same forest on 2 and 4 cores, and out of
    3- and 8-partition shuffles: predictions and class probabilities
    of the held-out rows are identical in all four fits. Subprocesses,
    because the core count is fixed per Spark application."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH")) if p
    )
    fits = []
    for cpus in ("2", "4"):
        out = subprocess.run(
            [sys.executable, "-c", _SHAPE_SCRIPT, cpus, "3", "8"],
            env=env, capture_output=True, text=True, timeout=600,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        fits += [
            json.loads(ln) for ln in out.stdout.splitlines()
            if ln.startswith("{")
        ]
    assert len(fits) == 4
    assert len(fits[0]["pred"]) > 100
    assert all(f == fits[0] for f in fits[1:]), [f["acc"] for f in fits]
