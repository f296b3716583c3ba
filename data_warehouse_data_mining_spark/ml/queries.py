"""Registered ML queries (rows-only driver checks — model fitting is
not ANSI-SQL-expressible, so these get the weaker rows-only check; the
distributed-metrics building blocks they use ARE oracle-checked via the
relational queries).

Dataset: the ``embeddings`` table; binary target = (label >= 5);
features = the 64-d embedding via array_to_vector. Everything is
seeded, so re-runs are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.functions import vectors as V
from data_warehouse_data_mining_spark.ml import balance, classify, metrics
from data_warehouse_data_mining_spark.registry import register
from data_warehouse_data_mining_spark.session import local_frame

SEED = 42


def _dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    e = load(spark, sf_dir).embeddings
    return e.select(
        "vec_id",
        array_to_vector(V.as_double(F.col("embedding"))).alias("features"),
        (F.col("label") >= 5).cast("double").alias("label"),
    )


@register(
    "ml_logreg_confusion",
    oracle="""
    WITH corpus AS (
        SELECT count(*) AS n, CAST(sum(label) AS BIGINT) AS s
        FROM embeddings
    ),
    pins(n, s, label, prediction, cnt) AS (VALUES
        (500,  2268, 0.0, 0.0, 23), (500,  2268, 0.0, 1.0, 37),
        (500,  2268, 1.0, 0.0, 26), (500,  2268, 1.0, 1.0, 40),
        (500,  2270, 0.0, 0.0, 33), (500,  2270, 0.0, 1.0, 33),
        (500,  2270, 1.0, 0.0, 32), (500,  2270, 1.0, 1.0, 28),
        (2000, 9063, 0.0, 0.0, 125), (2000, 9063, 0.0, 1.0, 167),
        (2000, 9063, 1.0, 0.0, 114), (2000, 9063, 1.0, 1.0, 148)
    )
    SELECT 'logistic_regression' AS classifier,
           CAST(p.label AS DOUBLE) AS label,
           CAST(p.prediction AS DOUBLE) AS prediction,
           CAST(p.cnt AS BIGINT) AS n
    FROM corpus c JOIN pins p ON c.n = p.n AND c.s = p.s
    """,
)
def ml_logreg_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LogisticRegression fit/transform (reference nb:cell9-10) with the
    distributed confusion matrix (groupBy aggregate, not
    sklearn-on-driver — ml/metrics.py::confusion_matrix), returning the
    ACTUAL dense 2×2 matrix.

    Exact-oracle-checked as a VALUE pin (r7 tightening of the r5
    property pin): the seeded LR fit on this fixed corpus is
    deterministic in practice — measured identical cell counts across
    fresh processes under local[5]/local[16]/local[32] with matching
    shuffle-partition settings at every SF (the embeddings table is a
    single parquet split at all three SFs, so treeAggregate sees one
    deterministic partitioning). The oracle keys the pinned integers on
    a (count, sum(label)) corpus fingerprint — sf0.001 and sf0.01 both
    have 500 rows but different labels — so an unknown corpus joins to
    zero rows and fails LOUDLY rather than silently passing.
    Spark-version guard: pins measured on PySpark 4.1.2; an MLlib
    change to LBFGS/treeAggregate summation would shift the fitted
    coefficients — re-measure the pins then (tools/ml_pin_probe
    procedure in ROADMAP §r7). BLAS guard: pins measured under the
    pure-Java netlib fallback (this image has no native BLAS); a host
    with OpenBLAS/MKL reorders LBFGS float accumulation and shifts the
    cells — ml_pin_probe prints the active BLAS implementation and
    warns, so a red pin there means re-measure, not regression. The
    densified grid means a model that collapses to one class still
    yields 4 rows (zero cells are zero, not absent)."""
    data = _dataset(spark, sf_dir)
    train, test = data.randomSplit([0.7, 0.3], seed=SEED)
    result = classify.train_evaluate("logistic_regression", train, test)
    cm = metrics.confusion_matrix(result.predictions)
    grid = local_frame(
        spark,
        [(a, b) for a in (0.0, 1.0) for b in (0.0, 1.0)],
        "label double, prediction double",
    )
    # FULL outer, not left: a stray non-binary label/prediction class
    # must surface as a visible 5th row carrying its actual class
    # values (self-describing rows-mismatch), not silently vanish and
    # fail later as an unexplained cell-count redistribution (ADVICE r7)
    return (
        grid.join(cm, ["label", "prediction"], "full_outer")
        .select(
            F.lit("logistic_regression").alias("classifier"),
            "label",
            "prediction",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        )
    )


@register(
    "ml_random_forest_report",
    oracle="""
    WITH corpus AS (
        SELECT count(*) AS n, CAST(sum(label) AS BIGINT) AS s
        FROM embeddings
    ),
    pins(n, s, c00, c01, c10, c11) AS (VALUES
        (500,  2268, 30, 30, 36, 30),
        (500,  2270, 36, 30, 33, 27),
        (2000, 9063, 113, 179, 120, 142)
    ),
    m AS (
        SELECT CAST(p.c00 AS BIGINT) AS c00, CAST(p.c01 AS BIGINT) AS c01,
               CAST(p.c10 AS BIGINT) AS c10, CAST(p.c11 AS BIGINT) AS c11
        FROM corpus c JOIN pins p ON c.n = p.n AND c.s = p.s
    ),
    pc AS (
        SELECT '0.0' AS class,
               c00 / (c00 + c10) AS precision,
               c00 / (c00 + c01) AS recall,
               CAST(c00 + c01 AS BIGINT) AS support
        FROM m
        UNION ALL
        SELECT '1.0',
               c11 / (c01 + c11),
               c11 / (c10 + c11),
               CAST(c10 + c11 AS BIGINT)
        FROM m
    ),
    pcf AS (
        SELECT class, precision, recall,
               CASE WHEN precision + recall > 0
                    THEN 2 * precision * recall / (precision + recall)
                    ELSE 0.0 END AS f1,
               support
        FROM pc
    )
    SELECT class, precision, recall, f1, CAST(support AS BIGINT) AS support
    FROM pcf
    UNION ALL
    SELECT 'macro avg',
           (SELECT sum(precision) / 2 FROM pcf),
           (SELECT sum(recall) / 2 FROM pcf),
           (SELECT sum(f1) / 2 FROM pcf),
           (SELECT CAST(sum(support) AS BIGINT) FROM pcf)
    UNION ALL
    SELECT 'accuracy',
           (SELECT (c00 + c11) / (c00 + c01 + c10 + c11) FROM m),
           NULL, NULL,
           (SELECT CAST(c00 + c01 + c10 + c11 AS BIGINT) FROM m)
    """,
)
def ml_random_forest_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RandomForest (the reference script's active classifier,
    stroke_predict.py:144-146) + classification report with sklearn
    zero_division=1 parity (ml/metrics.py), returning the ACTUAL report
    rows. Only the k×k confusion matrix is aggregated in Spark; the
    report is finished on the driver and returned as a local frame, and
    the forest's AUC is never evaluated (nothing here reads it).

    Exact-oracle-checked as a VALUE pin (r7 tightening of the r5
    property pin): the seeded forest on this fixed corpus is
    deterministic in practice — measured identical reports across fresh
    processes under local[5]/local[16]/local[32] at every SF (single
    parquet split → deterministic bagging). The oracle pins the four
    RF confusion-matrix integers per corpus fingerprint
    (count, sum(label) — disambiguates the two 500-row corpora) and
    DERIVES precision/recall/f1/macro/accuracy with the exact IEEE
    arithmetic metrics.classification_report uses (integer/integer →
    double division, 2·p·r/(p+r) in the same association order,
    macro = sum/2), so the doubles are bit-identical, not approximate.
    An unknown corpus joins to zero pin rows and fails LOUDLY.
    Spark-version guard: pins measured on PySpark 4.1.2; an MLlib
    change to RF sampling/impurity order shifts the forest —
    re-measure then (ROADMAP §r7). BLAS guard: see ml_logreg_confusion
    — ml_pin_probe prints the active BLAS implementation; a native-BLAS
    host shifts the cells and means re-measure, not regression."""
    data = _dataset(spark, sf_dir)
    train, test = data.randomSplit([0.7, 0.3], seed=SEED)
    result = classify.train_evaluate("random_forest", train, test)
    return metrics.classification_report(result.predictions)


@register(
    "ml_five_classifiers_auc",
    oracle="""
    SELECT c.classifier, CAST(e.n AS BIGINT) AS n_rows_total,
           1 AS auc_in_unit_interval, 1 AS predictions_cover_test
    FROM (SELECT count(*) AS n FROM embeddings) e,
         (SELECT unnest(['decision_tree', 'linear_svc',
                         'logistic_regression', 'naive_bayes',
                         'random_forest']) AS classifier) c
    ORDER BY c.classifier
    """,
)
def ml_five_classifiers_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All five reference classifier families trained and AUC-scored on
    the same seeded split (nb:cell9-10). NaiveBayes needs non-negative
    features, so it trains on shifted copies (documented reference
    quirk, SURVEY.md §7).

    Exact-oracle-checked as a PROPERTY: the five AUC values depend on
    treeAggregate float order (≈0.47-0.54 on this corpus — the
    synthetic labels are independent of the embeddings), so the pin is
    the family sweep's contract: one row per declared family, each AUC
    a valid probability, each family's transform covering the full
    seeded test split (prediction count == test count)."""
    from pyspark.ml.functions import array_to_vector

    e = load(spark, sf_dir).embeddings
    base = e.select(
        "vec_id",
        V.as_double(F.col("embedding")).alias("arr"),
        (F.col("label") >= 5).cast("double").alias("label"),
    )
    signed = base.select(
        "vec_id", array_to_vector("arr").alias("features"), "label"
    )
    nonneg = base.select(
        "vec_id",
        array_to_vector(F.transform(F.col("arr"), lambda x: x + F.lit(1.0))).alias(
            "features"
        ),
        "label",
    )
    n_total = base.count()
    rows = []
    for name in [
        "decision_tree",
        "linear_svc",
        "logistic_regression",
        "naive_bayes",
        "random_forest",
    ]:
        data = nonneg if name == "naive_bayes" else signed
        train, test = data.randomSplit([0.7, 0.3], seed=SEED)
        result = classify.train_evaluate(name, train, test)
        rows.append(
            (
                name,
                n_total,
                int(0.0 <= result.auc <= 1.0),
                int(result.predictions.count() == test.count()),
            )
        )
    return local_frame(
        spark,
        rows,
        "classifier string, n_rows_total bigint, "
        "auc_in_unit_interval int, predictions_cover_test int",
    ).orderBy("classifier")


@register(
    "ml_cv_grid_search",
    oracle="""
    SELECT 'logistic_regression' AS classifier,
           CAST(count(*) AS BIGINT) AS n_rows_total,
           4 AS grid_size, 3 AS num_folds,
           4 AS n_cv_metrics,
           1 AS cv_metrics_in_unit_interval,
           1 AS splits_partition_input,
           1 AS auc_in_unit_interval
    FROM embeddings
    """,
)
def ml_cv_grid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free CV grid search (reference's grids are full-size,
    stroke_predict.py:183-208; a reduced LR grid keeps the per-round
    check fast — the full grids live in ml/classify.py::param_grid).

    Exact-oracle-checked as a PROPERTY (the random_split_sizes
    pattern): the fit itself isn't SQL-reproducible, but its CONTRACT
    is. The pins are derived quantities the CV must have produced, not
    grid membership of a value drawn from the grid (which would be
    tautological): ``n_cv_metrics`` is len(model.avgMetrics) — the CV
    really swept all 4 grid points; every fold-mean AUC is a valid
    probability; and the seeded 70:30 split exactly partitions the
    exact input count. Raw AUC values stay pytest-pinned as bands
    (tests/test_ml.py)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.tuning import ParamGridBuilder

    data = _dataset(spark, sf_dir)
    train, test = data.randomSplit([0.7, 0.3], seed=SEED)
    clf = LogisticRegression(featuresCol="features", labelCol="label")
    reg_grid, iter_grid = [0.01, 0.1], [10, 20]
    grid = (
        ParamGridBuilder()
        .addGrid(clf.regParam, reg_grid)
        .addGrid(clf.maxIter, iter_grid)
        .build()
    )
    result = classify.cross_validate(
        "logistic_regression", train, test, num_folds=3, grid=grid
    )
    cv_metrics = result.avg_metrics or []
    n_split = train.count() + test.count()
    return data.agg(F.count(F.lit(1)).alias("n_rows_total")).select(
        F.lit("logistic_regression").alias("classifier"),
        "n_rows_total",
        F.lit(len(grid)).cast("int").alias("grid_size"),
        F.lit(3).cast("int").alias("num_folds"),
        F.lit(len(cv_metrics)).cast("int").alias("n_cv_metrics"),
        F.lit(int(all(0.0 <= m <= 1.0 for m in cv_metrics))).cast("int").alias(
            "cv_metrics_in_unit_interval"
        ),
        (F.lit(n_split) == F.col("n_rows_total")).cast("int").alias(
            "splits_partition_input"
        ),
        F.lit(int(0.0 <= result.auc <= 1.0)).cast("int").alias(
            "auc_in_unit_interval"
        ),
    )


@register(
    "smote_rebalance_counts",
    oracle="""
    WITH base AS (
      SELECT CASE WHEN label >= 9 THEN 1 ELSE 0 END AS cls,
             count(*) AS cnt
      FROM embeddings GROUP BY 1
    )
    SELECT 'before' AS stage, cls, CAST(cnt AS BIGINT) AS n FROM base
    UNION ALL
    SELECT 'after' AS stage, cls,
           CAST(CASE WHEN cls = 1 THEN 3 * cnt ELSE cnt END AS BIGINT) AS n
    FROM base
    """,
)
def smote_rebalance_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed SMOTE (ml/balance.py — LSH-bucketed applyInPandas
    k-NN synthesis, fixing the reference's driver-side implementation
    and its neighbor-indexing bug). Output: class counts before/after.

    Exact-oracle-checkable despite the synthesis being numeric: SMOTE
    adds exactly ``oversample_ratio`` synthetic rows per minority row
    (ratio 2 → after-minority = 3 × before-minority, majority
    unchanged), so the COUNT contract is deterministic even though the
    synthetic vectors themselves depend on bucket-local k-NN."""
    e = load(spark, sf_dir).embeddings
    data = e.select(
        "vec_id",
        V.as_double(F.col("embedding")).alias("v"),
        (F.col("label") >= 9).cast("int").alias("cls"),
    )
    before = data.groupBy("cls").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("before").alias("stage"), "cls", "n"
    )
    balanced = balance.smote(
        data, id_col="vec_id", features_col="v", label_col="cls",
        minority_label=1, k=5, oversample_ratio=2,
    )
    after = balanced.groupBy("cls").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("after").alias("stage"), "cls", "n"
    )
    return before.unionByName(after)


@register(
    "class_weights_profile",
    oracle="""
    WITH e AS (SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS cls FROM embeddings),
         c AS (SELECT cls, count(*) AS n FROM e GROUP BY cls)
    SELECT cls, n,
           round((SELECT count(*) FROM e) * 1.0
                 / ((SELECT count(*) FROM c) * n), 6) AS weight
    FROM c
    """,
)
def class_weights_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class-weight column (the zero-data-movement
    alternative to SMOTE): per-class weight summary."""
    e = load(spark, sf_dir).embeddings.select(
        "vec_id", (F.col("label") >= 5).cast("int").alias("cls")
    )
    weighted = balance.class_weights(e, "cls")
    return weighted.groupBy("cls").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("weight"), 6).alias("weight"),
    )


@register(
    "ml_weighted_logreg",
    oracle="""
    SELECT v.variant, CAST(e.n AS BIGINT) AS n_rows_total,
           1 AS auc_in_unit_interval, 1 AS weight_sum_equals_n
    FROM (SELECT count(*) AS n FROM embeddings) e,
         (SELECT unnest(['class_weighted', 'unweighted']) AS variant) v
    ORDER BY v.variant
    """,
)
def ml_weighted_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-weighted LogisticRegression (weightCol) — the zero-resample
    rebalancing path (ml/balance.py::class_weights) feeding a weight-
    aware estimator; compared against the unweighted AUC.

    Exact-oracle-checked as a PROPERTY: both AUCs are valid
    probabilities and the inverse-frequency weight column sums exactly
    to the row count (Σ_c n_c·total/(k·n_c) = total — the invariant
    that makes class weighting a reweighting, not a rescaling; checked
    on the full table with 1e-6 tolerance for float accumulation). The
    weight VALUES are separately hash-checked by class_weights_profile."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    # make it imbalanced: treat only a thin slice as positive
    e = load(spark, sf_dir).embeddings
    from pyspark.ml.functions import array_to_vector

    imb = e.select(
        "vec_id",
        array_to_vector(V.as_double(F.col("embedding"))).alias("features"),
        (F.col("label") >= 9).cast("double").alias("label"),
    )
    weighted = balance.class_weights(imb.withColumn("cls", F.col("label")), "cls").drop(
        "cls"
    )
    n_total = imb.count()
    wsum_ok = weighted.agg(
        (F.abs(F.sum("weight") - F.lit(float(n_total))) < 1e-6).cast("int").alias("ok")
    )
    train, test = weighted.randomSplit([0.7, 0.3], seed=SEED)
    evaluator = BinaryClassificationEvaluator(labelCol="label")
    plain = LogisticRegression(featuresCol="features", labelCol="label").fit(train)
    wtd = LogisticRegression(
        featuresCol="features", labelCol="label", weightCol="weight"
    ).fit(train)
    auc_u = float(evaluator.evaluate(plain.transform(test)))
    auc_w = float(evaluator.evaluate(wtd.transform(test)))
    rows = local_frame(
        spark,
        [
            ("class_weighted", n_total, int(0.0 <= auc_w <= 1.0)),
            ("unweighted", n_total, int(0.0 <= auc_u <= 1.0)),
        ],
        "variant string, n_rows_total bigint, auc_in_unit_interval int",
    )
    return (
        rows.crossJoin(F.broadcast(wsum_ok))
        .select(
            "variant",
            "n_rows_total",
            "auc_in_unit_interval",
            F.col("ok").alias("weight_sum_equals_n"),
        )
        .orderBy("variant")
    )


@register(
    "ml_kmeans_clusters",
    oracle="""
    SELECT 'kmeans' AS algo, 8 AS k,
           CAST(count(*) AS BIGINT) AS n_points,
           1 AS sizes_sum_to_n, 1 AS n_clusters_in_1_to_k,
           1 AS assignment_is_nearest_center
    FROM embeddings
    """,
)
def ml_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded KMeans over the embeddings (the coarse quantizer behind
    ann_ivf_kmeans, surfaced as a first-class clustering op).

    Exact-oracle-checked as a PROPERTY: k-means|| init samples
    per-partition RNG streams, so centroids (and per-cluster sizes)
    vary with input partitioning — but the clustering CONTRACT is
    portable: cluster sizes partition the exact point count, between 1
    and k clusters are populated, and EVERY point is assigned to its
    genuinely nearest centroid (verified distributedly by re-ranking
    each point against all k broadcast centers — the Lloyd invariant a
    converged assignment must satisfy)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = load(spark, sf_dir).embeddings.select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    ).withColumn("features", array_to_vector(F.col("v")))
    model = KMeans(k=8, seed=SEED, featuresCol="features", predictionCol="cluster").fit(e)
    assigned = model.transform(e).select("vec_id", "v", "cluster")
    centers = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "c_id int, center array<double>",
    )
    diff = F.zip_with("v", "center", lambda a, b: a - b)
    d2 = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)
    # nearest center per point, ranked over the broadcast k-row table;
    # 1e-12 tolerance absorbs float-order jitter in the tie case
    nearest = (
        assigned.crossJoin(F.broadcast(centers))
        .withColumn("d2", d2)
        .groupBy("vec_id", "cluster")
        .agg(
            F.min("d2").alias("best_d2"),
            F.min(F.when(F.col("c_id") == F.col("cluster"), F.col("d2"))).alias(
                "own_d2"
            ),
        )
    )
    stats = nearest.agg(
        F.count(F.lit(1)).alias("n_points_checked"),
        F.min(F.col("own_d2") <= F.col("best_d2") + 1e-12).cast("int").alias(
            "assignment_is_nearest_center"
        ),
        F.countDistinct("cluster").alias("n_clusters"),
    )
    return (
        e.agg(F.count(F.lit(1)).alias("n_points"))
        .crossJoin(F.broadcast(stats))
        .select(
            F.lit("kmeans").alias("algo"),
            F.lit(8).cast("int").alias("k"),
            "n_points",
            (F.col("n_points_checked") == F.col("n_points")).cast("int").alias(
                "sizes_sum_to_n"
            ),
            F.col("n_clusters").between(1, 8).cast("int").alias(
                "n_clusters_in_1_to_k"
            ),
            "assignment_is_nearest_center",
        )
    )


@register(
    "ml_regression_family",
    oracle="""
    SELECT m.model, CAST(e.n AS BIGINT) AS n_rows_total,
           1 AS rmse_nonnegative, 1 AS r2_at_most_1,
           1 AS predictions_cover_test
    FROM (SELECT count(*) AS n FROM embeddings) e,
         (SELECT unnest(['gbt_regressor', 'linear_regression']) AS model) m
    ORDER BY m.model
    """,
)
def ml_regression_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression estimators over the embeddings (label 0-9 treated as a
    continuous target): LinearRegression and GBTRegressor on the same
    seeded split, scored by RMSE and R². Extends the reference's
    classification-only surface to the regression family.

    Exact-oracle-checked as a PROPERTY: the fitted RMSE/R² depend on
    float accumulation order (and R² is legitimately negative here —
    the synthetic labels are independent of the features), so the pins
    are the evaluation contract: RMSE ≥ 0, R² ≤ 1 (its mathematical
    ceiling), and each model scores the full seeded test split."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.regression import GBTRegressor, LinearRegression

    e = load(spark, sf_dir).embeddings
    data = e.select(
        "vec_id",
        array_to_vector(V.as_double(F.col("embedding"))).alias("features"),
        F.col("label").cast("double").alias("label"),
    )
    train, test = data.randomSplit([0.7, 0.3], seed=SEED)
    rmse = RegressionEvaluator(labelCol="label", metricName="rmse")
    r2 = RegressionEvaluator(labelCol="label", metricName="r2")
    n_total = data.count()
    n_test = test.count()
    rows = []
    for name, est in [
        (
            "gbt_regressor",
            GBTRegressor(featuresCol="features", labelCol="label", maxIter=10, seed=SEED),
        ),
        ("linear_regression", LinearRegression(featuresCol="features", labelCol="label")),
    ]:
        pred = est.fit(train).transform(test)
        rows.append(
            (
                name,
                n_total,
                int(float(rmse.evaluate(pred)) >= 0.0),
                int(float(r2.evaluate(pred)) <= 1.0),
                int(pred.count() == n_test),
            )
        )
    return local_frame(
        spark,
        rows,
        "model string, n_rows_total bigint, rmse_nonnegative int, "
        "r2_at_most_1 int, predictions_cover_test int",
    ).orderBy("model")


@register(
    "ml_one_vs_rest",
    oracle="""
    SELECT 'one_vs_rest_lr' AS model,
           CAST(count(*) AS BIGINT) AS n_rows_total,
           1 AS splits_partition_input,
           1 AS n_classes_in_1_to_10,
           1 AS supports_sum_to_test,
           1 AS recalls_in_unit_interval
    FROM embeddings
    """,
)
def ml_one_vs_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OneVsRest multiclass reduction (LogisticRegression base) over the
    full 10-class label — per-class support and recall from the same
    distributed groupBy pivot the binary metrics use (no sklearn, no
    driver-side collect).

    Exact-oracle-checked as a PROPERTY: per-class recalls depend on the
    10 seeded binary fits (float-order sensitive), so the pins are the
    reduction's contract: the seeded split partitions the exact input
    count, the test split sees between 1 and 10 classes, per-class
    supports sum to the test count, and every recall is a valid
    probability."""
    from pyspark.ml.classification import LogisticRegression, OneVsRest
    from pyspark.ml.functions import array_to_vector

    e = load(spark, sf_dir).embeddings
    data = e.select(
        "vec_id",
        array_to_vector(V.as_double(F.col("embedding"))).alias("features"),
        F.col("label").cast("double").alias("label"),
    )
    train, test = data.randomSplit([0.7, 0.3], seed=SEED)
    ovr = OneVsRest(
        classifier=LogisticRegression(featuresCol="features", labelCol="label"),
        featuresCol="features",
        labelCol="label",
    )
    pred = ovr.fit(train).transform(test)
    per_class = pred.groupBy("label").agg(
        F.count(F.lit(1)).alias("support"),
        F.avg((F.col("prediction") == F.col("label")).cast("double")).alias(
            "recall"
        ),
    )
    n_test = test.count()
    n_split = train.count() + n_test
    stats = per_class.agg(
        F.countDistinct("label").between(1, 10).cast("int").alias(
            "n_classes_in_1_to_10"
        ),
        (F.sum("support") == F.lit(n_test)).cast("int").alias(
            "supports_sum_to_test"
        ),
        F.min(F.col("recall").between(0.0, 1.0)).cast("int").alias(
            "recalls_in_unit_interval"
        ),
    )
    return (
        data.agg(F.count(F.lit(1)).alias("n_rows_total"))
        .crossJoin(F.broadcast(stats))
        .select(
            F.lit("one_vs_rest_lr").alias("model"),
            "n_rows_total",
            (F.lit(n_split) == F.col("n_rows_total")).cast("int").alias(
                "splits_partition_input"
            ),
            "n_classes_in_1_to_10",
            "supports_sum_to_test",
            "recalls_in_unit_interval",
        )
    )


@register(
    "ml_smote_then_train",
    oracle="""
    SELECT v.variant, CAST(e.n AS BIGINT) AS n_rows_total,
           1 AS auc_in_unit_interval, 1 AS smote_growth_exact
    FROM (SELECT count(*) AS n FROM embeddings) e,
         (SELECT unnest(['imbalanced', 'smote_balanced']) AS variant) v
    ORDER BY v.variant
    """,
)
def ml_smote_then_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full balancing study end-to-end, distributed:
    imbalanced data -> distributed SMOTE -> train LR -> AUC, compared to
    training on the raw imbalance (reference: stroke_predict.py:116-157,
    where the SMOTE call was broken and never actually ran — here it
    does).

    Exact-oracle-checked as a PROPERTY: the two AUCs depend on float
    order, but SMOTE's count contract inside the pipeline is exact —
    oversample_ratio=4 must grow the TRAIN minority to exactly 5× its
    raw size (majority untouched), and both AUCs are valid
    probabilities. The standalone count contract on the full table is
    hash-checked by smote_rebalance_counts."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.functions import array_to_vector

    e = load(spark, sf_dir).embeddings
    data = e.select(
        "vec_id",
        V.as_double(F.col("embedding")).alias("varr"),
        (F.col("label") >= 9).cast("int").alias("cls"),
    )
    train_raw, test_raw = data.randomSplit([0.7, 0.3], seed=SEED)
    balanced_train = balance.smote(
        train_raw, id_col="vec_id", features_col="varr", label_col="cls",
        minority_label=1, k=5, oversample_ratio=4,
    )

    def prep(df):
        return df.select(
            array_to_vector("varr").alias("features"),
            F.col("cls").cast("double").alias("label"),
        )

    evaluator = BinaryClassificationEvaluator(labelCol="label")
    test = prep(test_raw)
    n_total = data.count()
    # ratio-4 SMOTE contract: train minority grows to exactly 5×,
    # majority untouched — verified distributedly on the two class
    # aggregates (2-row frames), no collect
    raw_counts = train_raw.groupBy("cls").agg(F.count(F.lit(1)).alias("n_raw"))
    bal_counts = balanced_train.groupBy("cls").agg(
        F.count(F.lit(1)).alias("n_bal")
    )
    growth_ok = (
        raw_counts.join(bal_counts, "cls")
        .agg(
            F.min(
                F.when(F.col("cls") == 1, F.col("n_bal") == 5 * F.col("n_raw"))
                .otherwise(F.col("n_bal") == F.col("n_raw"))
            ).cast("int").alias("smote_growth_exact")
        )
    )
    rows = []
    for variant, tr in [("imbalanced", prep(train_raw)), ("smote_balanced", prep(balanced_train))]:
        model = LogisticRegression(featuresCol="features", labelCol="label").fit(tr)
        auc = float(evaluator.evaluate(model.transform(test)))
        rows.append((variant, n_total, int(0.0 <= auc <= 1.0)))
    return (
        local_frame(
            spark,
            rows, "variant string, n_rows_total bigint, auc_in_unit_interval int"
        )
        .crossJoin(F.broadcast(growth_ok))
        .orderBy("variant")
    )


@register(
    "ml_als_recommendations",
    oracle="""
    WITH u AS (
      SELECT DISTINCT o_custkey FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      ORDER BY o_custkey LIMIT 5
    )
    SELECT CAST(o_custkey AS INT) AS user, CAST(r AS INT) AS rank,
           1 AS item_was_purchasable, 1 AS score_finite,
           1 AS items_distinct_per_user
    FROM u, (SELECT unnest([1, 2, 3]) AS r)
    ORDER BY user, rank
    """,
)
def ml_als_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collaborative filtering (ALS, implicit feedback): customer×part
    purchase quantities from orders⋈lineitem train a low-rank model;
    top-3 part recommendations for a fixed customer subset.
    Scale notes: ratings stay (user, item, strength) triples — one
    shuffle per factor sweep, factors block-partitioned by id range.

    Exact-oracle-checked as a PROPERTY: factor values depend on the
    block-partitioned solve, but the recommender's contract is exact —
    the user subset is the 5 smallest rated custkeys (SQL-derivable),
    each gets ranks 1..3, every recommended item exists in the rated
    catalog, scores are finite, and no user gets a duplicate item."""
    from pyspark.ml.recommendation import ALS

    t = load(spark, sf_dir)
    ratings = (
        t.orders.select("o_orderkey", "o_custkey")
        .join(
            t.lineitem.select("l_orderkey", "l_partkey", "l_quantity"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.sum("l_quantity").cast("float").alias("strength"))
    )
    als = ALS(
        rank=8,
        maxIter=5,
        seed=SEED,
        implicitPrefs=True,
        userCol="user",
        itemCol="item",
        ratingCol="strength",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    users = ratings.select("user").distinct().orderBy("user").limit(5)
    recs = model.recommendForUserSubset(users, 3)
    flat = recs.select(
        "user",
        F.posexplode("recommendations").alias("rank0", "rec"),
    ).select(
        "user",
        (F.col("rank0") + 1).cast("int").alias("rank"),
        F.col("rec.item").alias("part"),
        F.col("rec.rating").alias("score"),
    )
    catalog = ratings.select("item").distinct()
    w_user = Window.partitionBy("user")
    return (
        flat.join(
            F.broadcast(catalog.withColumn("in_catalog", F.lit(1))),
            flat.part == catalog.item,
            "left",
        )
        .select(
            "user",
            "rank",
            F.coalesce(F.col("in_catalog"), F.lit(0)).alias(
                "item_was_purchasable"
            ),
            (
                ~F.isnan("score")
                & F.col("score").isNotNull()
                & (F.abs(F.col("score")) < F.lit(float("inf")))
            ).cast("int").alias("score_finite"),
            (
                F.count(F.lit(1)).over(w_user)
                == F.size(F.collect_set("part").over(w_user))
            ).cast("int").alias("items_distinct_per_user"),
        )
        .orderBy("user", "rank")
    )


_FH_BITS = 4  # 16 buckets — small enough to force visible collisions


@register(
    "feature_hashing_profile",
    oracle=f"""
    WITH h AS (
      SELECT p_type,
             CAST(('0x' || substr(md5(p_type), 1, 8)) AS BIGINT)
               % {1 << _FH_BITS} AS bucket,
             count(*) AS n_rows
      FROM part GROUP BY p_type
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_categories,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(count(*) > 1 AS INT) AS has_collision
    FROM h
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def feature_hashing_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009) profiled: categorical
    p_type values hash into 2^4 feature buckets via the first md5 word,
    and the profile reports how many categories share each bucket — the
    collision audit run before replacing a StringIndexer (whose label
    table must fit on the driver) with stateless feature hashing (no
    fitted vocabulary, no shuffle, stable under new categories at
    100 TB). md5-derived buckets make the assignment engine-identical,
    so even the collision structure is hash-verified."""
    p = load(spark, sf_dir).part
    h = p.groupBy("p_type").agg(F.count(F.lit(1)).alias("n_rows"))
    bucket = (
        F.conv(F.substring(F.md5("p_type"), 1, 8), 16, 10).cast("long")
        % (1 << _FH_BITS)
    ).cast("int")
    return (
        h.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_categories"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            (F.count(F.lit(1)) > 1).cast("int").alias("has_collision"),
        )
        .orderBy("bucket")
    )
