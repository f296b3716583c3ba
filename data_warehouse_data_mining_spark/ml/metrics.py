"""Classification metrics over a k×k confusion matrix.

The reference collects predictions to the driver and calls
sklearn.metrics (stroke_predict.py:159-169) — the whole test set lands
in driver memory. Here the confusion matrix is a groupBy aggregate, and
only its k² cells reach the driver: the classification report is
finished there in Python and returned as a JVM-local frame. That is one
Spark job regardless of data size, and the result is a LocalTableScan.

sklearn parity notes: macro-average over the label set present in
(labels ∪ predictions); ``zero_division=1`` semantics (reference uses
classification_report(..., zero_division=1), stroke_predict.py:167):
a class with zero predicted (or zero actual) instances contributes
precision (recall) of 1.0.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce
from operator import add

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.session import local_frame


def confusion_matrix(
    predictions: DataFrame, label_col: str = "label", pred_col: str = "prediction"
) -> DataFrame:
    """(label, prediction, n) — the 2×2 (or k×k) matrix as a tall table."""
    return (
        predictions.groupBy(
            F.col(label_col).cast("double").alias("label"),
            F.col(pred_col).cast("double").alias("prediction"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def classification_report(
    predictions: DataFrame,
    label_col: str = "label",
    pred_col: str = "prediction",
    zero_division: float = 1.0,
) -> DataFrame:
    """Per-class precision/recall/F1 + support, plus macro and accuracy
    rows, from one collect of the confusion matrix.

    The doubles follow the IEEE operation order of the SQL form of the
    same report: ``tp/n_pred``, ``tp/support``, ``2*p*r/(p+r)`` and a
    left-to-right ``sum/k`` for the macro average, so they are
    bit-identical to it. A null class never matches itself (SQL join
    semantics): its tp, support and n_pred are 0."""
    cells = [
        (r["label"], r["prediction"], r["n"])
        for r in confusion_matrix(predictions, label_col, pred_col).collect()
    ]
    tp, support, n_pred = Counter(), Counter(), Counter()
    for label, pred, n in cells:
        if label is not None:
            support[label] += n
            if label == pred:
                tp[label] = n
        if pred is not None:
            n_pred[pred] += n
    classes = {c for label, pred, _ in cells for c in (label, pred)}

    zd = float(zero_division)
    rows = []
    for c in sorted(classes, key=lambda c: (c is None, c or 0.0)):
        t, s, m = tp[c], support[c], n_pred[c]
        p = t / m if m > 0 else zd
        r = t / s if s > 0 else zd
        f1 = 2 * p * r / (p + r) if p + r > 0 else 0.0
        rows.append((c, None, p, r, f1, s))

    if rows:
        # reduce(add), not sum(): builtin sum() of floats is compensated
        # on newer Pythons, which would break the left-to-right order
        cols = list(zip(*rows))
        means = [reduce(add, col, 0.0) / len(rows) for col in cols[2:5]]
        macro = (None, "macro avg", *means, sum(cols[5]))
    else:
        macro = (None, "macro avg", None, None, None, None)
    total = sum(n for _, _, n in cells)
    correct = sum(tp.values())
    accuracy = (None, "accuracy", correct / total if total else 0.0, None, None, total)

    # the class label is cast to string in Spark, so it prints exactly
    # as a Spark double does; the projection folds into the local scan
    return local_frame(
        predictions.sparkSession,
        rows + [macro, accuracy],
        "cls double, name string, precision double, recall double, "
        "f1 double, support bigint",
    ).select(
        F.coalesce(F.col("cls").cast("string"), F.col("name")).alias("class"),
        "precision",
        "recall",
        "f1",
        "support",
    )
