"""E3 ML chain: random-forest multiclass classification
(all coverages.R:186-231).

The reference trains ``randomForest(coverage ~ 65 features)`` on a
75/25 seeded split (:193-206), scores the held-out set (:209-214),
and inspects importances (:217-231). Spark-first mapping:

    StringIndexer(label) -> VectorAssembler(features, skip-invalid)
      -> RandomForestClassifier(seed) -> IndexToString(prediction)

as ONE ``pyspark.ml.Pipeline``: fit/transform are distributed, the
model broadcast to executors for scoring — at 100 TB the scoring pass
is a narrow map over the feature table.

Layout: the training table is small (one row per play in E3), so
``train_eval`` reads it as ONE partition sorted by its key columns.
The coalesce is narrow and adds no exchange, so the indexer fit, the
jobs per tree level, scoring and the evaluator run one task per
stage, instead of one per partition of whatever shuffle built the
table.

Determinism: the split is the md5-hash split (operators/sample.py),
which does not depend on partitioning, and MLlib seeds each tree's
bagging sample per input partition. With one partition sorted by key
columns that identify a row, the seeded forest is a function of the
data alone: the same rows give the same forest whatever the core
count, the input partitioning or the shuffle-partition count.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.feature import StringIndexer, VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sample import deterministic_split

RF_SEED = 222  # the reference's set.seed(222), all coverages.R:202


def rf_pipeline(
    feature_cols: list[str],
    label_col: str = "label",
    num_trees: int = 50,
    seed: int = RF_SEED,
) -> Pipeline:
    """M1: the assembled training pipeline (all coverages.R:201-206).

    ``handleInvalid='skip'`` mirrors the reference's na.action=na.omit.
    """
    indexer = StringIndexer(
        inputCol=label_col,
        outputCol="label_idx",
        stringOrderType="alphabetAsc",  # deterministic class indexing
        handleInvalid="skip",
    )
    assembler = VectorAssembler(
        inputCols=feature_cols, outputCol="features", handleInvalid="skip"
    )
    rf = RandomForestClassifier(
        labelCol="label_idx",
        featuresCol="features",
        numTrees=num_trees,
        seed=seed,
    )
    return Pipeline(stages=[indexer, assembler, rf])


def score(model: PipelineModel, df: DataFrame) -> DataFrame:
    """M2: ``model.transform`` plus IndexToString as a pure column
    expression over the fitted indexer's labels (``predicted_label``)."""
    labels = model.stages[0].labels
    return model.transform(df).withColumn(
        "predicted_label",
        F.element_at(
            F.array(*[F.lit(x) for x in labels]),
            F.col("prediction").cast("int") + 1,
        ),
    )


def train_eval(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    id_cols: list[str] | None = None,
    train_fraction: float = 0.75,
    num_trees: int = 50,
) -> tuple[PipelineModel, DataFrame, float]:
    """M1+M2+M3+M5: split deterministically, fit, score the held-out
    set, return (model, scored test DF, accuracy)
    (all coverages.R:193-214).
    """
    key_cols = id_cols or [label_col, *feature_cols]
    df = df.coalesce(1).sortWithinPartitions(*key_cols)
    train, test = deterministic_split(
        df, key_cols=key_cols, train_fraction=train_fraction
    )
    model = rf_pipeline(feature_cols, label_col, num_trees=num_trees).fit(
        train
    )
    scored = score(model, test)
    evaluator = MulticlassClassificationEvaluator(
        labelCol="label_idx",
        predictionCol="prediction",
        metricName="accuracy",
    )
    return model, scored, evaluator.evaluate(scored)


def confusion_matrix(scored: DataFrame, label_col: str = "label") -> DataFrame:
    """M3: contingency table of truth x prediction
    (all coverages.R:210-214) — a groupBy count, A7 shape."""
    return (
        scored.groupBy(
            F.col(label_col).alias("label"),
            F.col("predicted_label").alias("prediction"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "prediction")
    )


def feature_importances(
    model: PipelineModel, feature_cols: list[str]
) -> list[tuple[str, float]]:
    """M4: per-feature Gini importances (all coverages.R:217-227).

    Returns a plain list (driver-side — the vector is tiny).
    """
    rf_model = next(
        s for s in model.stages if s.__class__.__name__.startswith("RandomForest")
    )
    imps = rf_model.featureImportances.toArray().tolist()
    return list(zip(feature_cols, imps))


def tree_stats(model: PipelineModel) -> list[tuple[int, int, int]]:
    """Per-tree introspection: (tree_id, depth, n_nodes) for every
    member of the forest — the reference's getTree/treesize walk
    (all coverages.R:217-231), read from the fitted Spark model's
    `trees` property. Driver-side and tiny (one tuple per tree; the
    trees themselves stay distributed in the model broadcast)."""
    rf_model = next(
        s for s in model.stages if s.__class__.__name__.startswith("RandomForest")
    )
    return [
        (i, t.depth, t.numNodes) for i, t in enumerate(rf_model.trees)
    ]


def var_used(
    model: PipelineModel, feature_cols: list[str]
) -> list[tuple[int, str, int, int]]:
    """Per-tree split-variable usage — the reference's varUsed/getTree
    per-node dump (all coverages.R:220-227) aggregated to the useful
    grain: for every (tree, feature), how many internal nodes split on
    that feature, plus the tree's total internal-node count.

    Returns (tree_id, feature, n_splits, n_internal) tuples, one per
    tree x feature. Parsed from each tree's debug string ("If (feature
    k <= ...)" lines — one If per internal node) on the driver; the
    forest is driver-resident model metadata, so this is the
    kmeans-scalar class of action (num_trees x num_features tuples),
    not a data-path collect.
    """
    import re

    rf_model = next(
        s for s in model.stages if s.__class__.__name__.startswith("RandomForest")
    )
    out = []
    pat = re.compile(r"If \(feature (\d+)[ )]")
    for i, tree in enumerate(rf_model.trees):
        counts = [0] * len(feature_cols)
        for m in pat.finditer(tree.toDebugString):
            counts[int(m.group(1))] += 1
        n_internal = (tree.numNodes - 1) // 2
        for j, f in enumerate(feature_cols):
            out.append((i, f, counts[j], n_internal))
    return out
