"""Classifier families, evaluation, and grid-search CV.

The reference trains five classifier families (nb:cell9-10;
stroke_predict.py:136-157) and grid-searches them with 5-fold CV
(stroke_predict.py:177-218). Same surface here, with the reference's
CV leak fixed: CV fits on the TRAIN split and the best model is
evaluated on the held-out TEST split (the reference fits and evaluates
on the full dataset, stroke_predict.py:216-218 — SURVEY.md §2.1
defect d).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import cached_property

from pyspark.ml.classification import (
    DecisionTreeClassifier,
    LinearSVC,
    LogisticRegression,
    NaiveBayes,
    RandomForestClassifier,
)
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame

SEED = 42


def make_classifier(name: str, features_col: str = "features", label_col: str = "label"):
    common = {"featuresCol": features_col, "labelCol": label_col}
    registry = {
        "logistic_regression": lambda: LogisticRegression(**common),
        "naive_bayes": lambda: NaiveBayes(**common),
        "linear_svc": lambda: LinearSVC(**common),
        "decision_tree": lambda: DecisionTreeClassifier(seed=SEED, **common),
        "random_forest": lambda: RandomForestClassifier(seed=SEED, **common),
    }
    if name not in registry:
        raise KeyError(f"unknown classifier {name!r}; have {sorted(registry)}")
    return registry[name]()


def param_grid(name: str, clf):
    """The reference's CV grids verbatim (stroke_predict.py:183-208)."""
    b = ParamGridBuilder()
    if name == "naive_bayes":
        return b.addGrid(clf.smoothing, [0.1, 0.5, 1.0]).build()
    if name == "decision_tree":
        return (
            b.addGrid(clf.maxDepth, [2, 5, 10]).addGrid(clf.maxBins, [10, 20, 30]).build()
        )
    if name == "random_forest":
        return (
            b.addGrid(clf.numTrees, [50, 100, 150]).addGrid(clf.maxDepth, [2, 5, 10]).build()
        )
    # logistic_regression / linear_svc (stroke_predict.py:205-208)
    return (
        b.addGrid(clf.regParam, [0.01, 0.1, 1.0]).addGrid(clf.maxIter, [10, 20, 30]).build()
    )


@dataclass
class EvalResult:
    name: str
    predictions: DataFrame
    label_col: str = "label"
    # CV only: the winning grid point, {param_name: value} — lets
    # callers property-pin the selection (grid membership) without
    # reaching into the model object.
    best_params: dict | None = None
    # CV only: one mean-CV metric per fitted grid point — callers pin
    # len(avg_metrics) == grid size (the CV really swept the grid).
    avg_metrics: list[float] | None = None

    @cached_property
    def auc(self) -> float:
        """areaUnderROC of the test predictions, evaluated on first
        read: a caller that only wants the predictions pays no
        evaluator jobs."""
        evaluator = BinaryClassificationEvaluator(labelCol=self.label_col)
        return float(evaluator.evaluate(self.predictions))


def _cv_parallelism(n_maps: int, cores: int) -> int:
    """``SPARK_GRAFT_CV_PARALLELISM`` when set (clamped to >= 1), else
    the grid size capped at the session's core count."""
    raw = os.environ.get("SPARK_GRAFT_CV_PARALLELISM", "").strip()
    if not raw:
        return max(1, min(n_maps, cores))
    try:
        return max(1, int(raw))
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_CV_PARALLELISM must be an integer, got {raw!r}"
        ) from None


def train_evaluate(
    name: str,
    train: DataFrame,
    test: DataFrame,
    features_col: str = "features",
    label_col: str = "label",
) -> EvalResult:
    """fit(train) → transform(test) → areaUnderROC (reference:
    stroke_predict.py:155-173); the AUC is computed when ``.auc`` is
    first read."""
    clf = make_classifier(name, features_col, label_col)
    model = clf.fit(train)
    return EvalResult(name, model.transform(test), label_col)


def cross_validate(
    name: str,
    train: DataFrame,
    test: DataFrame,
    num_folds: int = 5,
    features_col: str = "features",
    label_col: str = "label",
    grid=None,
) -> EvalResult:
    """Leak-free grid-search CV: folds over TRAIN only, report on TEST."""
    clf = make_classifier(name, features_col, label_col)
    evaluator = BinaryClassificationEvaluator(labelCol=label_col)
    maps = grid if grid is not None else param_grid(name, clf)
    # Fit the grid points of each fold concurrently (r14, guide §2.6:
    # actions are only sequential because the driver calls them
    # sequentially). CrossValidator splits folds once up front (seeded)
    # and evaluates avgMetrics per param-map index, so parallelism
    # changes wall-clock only, never a metric. Capped at the grid size
    # (CV parallelizes within a fold) and at the session's core count
    # so a small local[N] run isn't oversubscribed; overridable for
    # cluster runs where executor count != defaultParallelism.
    parallelism = _cv_parallelism(
        len(maps), train.sparkSession.sparkContext.defaultParallelism
    )
    cv = CrossValidator(
        estimator=clf,
        estimatorParamMaps=maps,
        evaluator=evaluator,
        numFolds=num_folds,
        seed=SEED,
        parallelism=parallelism,
    )
    model = cv.fit(train)
    best = model.bestModel
    # map the winning avgMetrics index back through the param maps the
    # CV actually fitted with (not a rebuilt grid, whose ordering would
    # only coincidentally match), honoring the metric's direction the
    # same way CrossValidator picks bestModel
    grid_maps = model.getEstimatorParamMaps()
    pick = max if evaluator.isLargerBetter() else min
    win = grid_maps[int(pick(range(len(model.avgMetrics)),
                             key=model.avgMetrics.__getitem__))]
    return EvalResult(
        name,
        best.transform(test),
        label_col,
        best_params={p.name: v for p, v in win.items()},
        avg_metrics=[float(m) for m in model.avgMetrics],
    )
