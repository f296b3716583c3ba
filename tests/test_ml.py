"""ML layer: prep batching, metric correctness, SMOTE determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.functions import vectors as V
from data_warehouse_data_mining_spark.ml import balance, metrics, prep

from .conftest import SF_SMALL


def test_null_profile_single_job(spark):
    d = load(spark, SF_SMALL).documents
    row = prep.null_profile(d).collect()[0]
    assert all(v == 0 for v in row)


def test_frequency_tables_batched(spark):
    o = load(spark, SF_SMALL).orders
    freq = prep.frequency_tables(o, ["o_orderstatus", "o_orderpriority"])
    rows = {(r.col_name, r.col_value): r.n for r in freq.collect()}
    # cross-check one cell against a plain groupBy
    expected = (
        o.groupBy("o_orderstatus").count().filter(F.col("o_orderstatus") == "O").collect()
    )[0]["count"]
    assert rows[("o_orderstatus", "O")] == expected
    assert len({k[0] for k in rows}) == 2


def test_sentinel_normalize_and_impute(spark):
    df = spark.createDataFrame(
        [("1", "N/A"), ("2", "3.5"), ("3", "4.5")], "id string, x string"
    )
    cleaned = prep.normalize_sentinels(df, ["x"])
    assert cleaned.filter(F.col("x").isNull()).count() == 1
    imputed = prep.impute_mean(cleaned, ["x"])
    vals = {r.id: r.x for r in imputed.collect()}
    assert vals["1"] == 4.0  # mean of 3.5, 4.5


def test_encoding_pipeline_frequency_order(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "cat string, num double"
    )
    _, encoded = prep.fit_encode(df, ["cat"], ["num"])
    mapping = {r.cat: r["cat_index"] for r in prep.index_mapping(encoded, "cat").collect()}
    assert mapping == {"a": 0.0, "b": 1.0}  # frequency-ordered
    assert "features" in encoded.columns


def _report(spark, pairs):
    preds = spark.createDataFrame(pairs, "label double, prediction double")
    rep = metrics.classification_report(preds)
    return {r["class"]: tuple(r)[1:] for r in rep.collect()}, rep


def test_classification_report_values(spark):
    # labels:    1 1 1 0 0
    # predicted: 1 0 1 0 1
    rep, df = _report(
        spark, [(1.0, 1.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0), (0.0, 1.0)]
    )
    p1, r1 = 2 / 3, 2 / 3
    p0, r0 = 1 / 2, 1 / 2
    f1 = 2 * p1 * r1 / (p1 + r1)
    f0 = 2 * p0 * r0 / (p0 + r0)
    assert rep == {
        "0.0": (p0, r0, f0, 2),
        "1.0": (p1, r1, f1, 3),
        "macro avg": ((p0 + p1) / 2, (r0 + r1) / 2, (f0 + f1) / 2, 5),
        "accuracy": (3 / 5, None, None, 5),
    }
    # finished on the driver: the report is a JVM-local relation
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Exchange" not in plan, plan


def test_classification_report_three_classes(spark):
    # label 0: predicted 0, 0, 1   label 1: predicted 1, 2
    # label 2: predicted 2, 2, 0, 1
    pairs = [(0.0, 0.0), (0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 2.0),
             (2.0, 2.0), (2.0, 2.0), (2.0, 0.0), (2.0, 1.0)]
    rep, _ = _report(spark, pairs)
    p = [2 / 3, 1 / 3, 2 / 3]  # tp / n_pred
    r = [2 / 3, 1 / 2, 2 / 4]  # tp / support
    f = [2 * pi * ri / (pi + ri) for pi, ri in zip(p, r)]
    assert rep == {
        "0.0": (p[0], r[0], f[0], 3),
        "1.0": (p[1], r[1], f[1], 2),
        "2.0": (p[2], r[2], f[2], 4),
        "macro avg": (
            ((0.0 + p[0]) + p[1] + p[2]) / 3,
            ((0.0 + r[0]) + r[1] + r[2]) / 3,
            ((0.0 + f[0]) + f[1] + f[2]) / 3,
            9,
        ),
        "accuracy": (5 / 9, None, None, 9),
    }


def test_classification_report_zero_division(spark):
    # nothing predicted as class 1 -> precision falls back to 1.0
    rep, _ = _report(spark, [(1.0, 0.0), (0.0, 0.0)])
    p0, r0 = 1 / 2, 1.0
    f0 = 2 * p0 * r0 / (p0 + r0)
    assert rep == {
        "0.0": (p0, r0, f0, 1),
        "1.0": (1.0, 0.0, 0.0, 1),
        "macro avg": ((p0 + 1.0) / 2, (r0 + 0.0) / 2, (f0 + 0.0) / 2, 2),
        "accuracy": (1 / 2, None, None, 2),
    }
    # class 2 is predicted but never a label: recall falls back to 1.0;
    # classes 0/1 have precision = recall = 0, so f1 is 0.0, not NaN
    rep, _ = _report(spark, [(0.0, 1.0), (1.0, 2.0)])
    assert rep["0.0"] == (1.0, 0.0, 0.0, 1)
    assert rep["1.0"] == (0.0, 0.0, 0.0, 1)
    assert rep["2.0"] == (0.0, 1.0, 0.0, 0)
    assert rep["accuracy"] == (0.0, None, None, 2)
    # zero_division is honored as given
    preds = spark.createDataFrame([(1.0, 0.0)], "label double, prediction double")
    rep = {r["class"]: tuple(r)[1:] for r in
           metrics.classification_report(preds, zero_division=0.0).collect()}
    assert rep["0.0"] == (0.0, 0.0, 0.0, 0)
    assert rep["1.0"] == (0.0, 0.0, 0.0, 1)


def test_local_frame_round_trip(spark):
    """NaN stays NaN and None stays null in every column type, and the
    frame is a LocalTableScan (no Python-RDD job)."""
    import math

    from data_warehouse_data_mining_spark.session import local_frame

    nan = float("nan")
    df = local_frame(
        spark,
        [(1, nan, [1.0, nan]), (None, None, None), (3, 2.5, [])],
        "a bigint, b double, v array<double>",
    )
    assert df.schema.simpleString() == "struct<a:bigint,b:double,v:array<double>>"
    r1, r2, r3 = df.collect()
    assert r1.a == 1 and math.isnan(r1.b)
    assert r1.v[0] == 1.0 and math.isnan(r1.v[1])
    assert (r2.a, r2.b, r2.v) == (None, None, None)
    assert (r3.a, r3.b, r3.v) == (3, 2.5, [])
    # null vs NaN as Spark sees them, not only after collect
    flags = df.select(
        F.col("b").isNull().alias("null"), F.isnan("b").alias("nan")
    ).collect()
    assert [tuple(f) for f in flags] == [(False, True), (True, False), (False, False)]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.strip().startswith("LocalTableScan"), plan
    assert local_frame(spark, [], "a int").collect() == []


def test_refine_buckets_pinned(spark):
    """The sorted (id, bucket) assignment of _refine_buckets at sf0.001
    (minority label >= 9, 12 planes) is pinned by hash for caps
    4096/64/3, plus the identical-vector case that only the row-number
    overflow fallback can split. The digests were recorded with the
    per-level broadcast-join form this driver-side bucket map replaced."""
    import hashlib

    def digest(df):
        rows = sorted((r.id, r.bucket) for r in df.collect())
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    minority = load(spark, SF_SMALL).embeddings.filter(F.col("label") >= 9).select(
        F.col("vec_id").alias("id"), V.as_double(F.col("embedding")).alias("v")
    )
    pins = {
        4096: "23f1d49305fbaf70a44468871f4f1f1deac943654ef3a44fc61affbe8421e6df",
        64: "23f1d49305fbaf70a44468871f4f1f1deac943654ef3a44fc61affbe8421e6df",
        3: "653b5a3ae1997fc4f4164e2ac236d4b9a3d9caef7ac350acadbad27b59193e7f",
    }
    for cap, pin in pins.items():
        got = digest(balance._refine_buckets(minority, max_planes=12, bucket_cap=cap, seed=42))
        assert got == pin, f"cap {cap}: bucket assignment drifted"

    same = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(500)], "id long, v array<double>"
    )
    got = digest(balance._refine_buckets(same, max_planes=12, bucket_cap=64, seed=42))
    assert got == "15762c04a1b5ab5a87f2412614b30554ec506eac74a138fa2167cc06dff64903"


def test_smote_deterministic_and_balanced(spark):
    e = load(spark, SF_SMALL).embeddings
    data = e.select(
        "vec_id",
        V.as_double(F.col("embedding")).alias("v"),
        (F.col("label") >= 9).cast("int").alias("cls"),
    )
    n_min = data.filter(F.col("cls") == 1).count()
    out1 = balance.smote(data, "vec_id", "v", "cls", minority_label=1, oversample_ratio=2)
    counts = {r.cls: r.n for r in out1.groupBy("cls").agg(F.count("*").alias("n")).collect()}
    assert counts[1] == 3 * n_min  # original + 2 synthetic per row

    # determinism: synthetic feature vectors identical across runs
    out2 = balance.smote(data, "vec_id", "v", "cls", minority_label=1, oversample_ratio=2)
    s1 = sorted(
        (r.vec_id, tuple(round(x, 9) for x in r.v))
        for r in out1.filter(F.col("vec_id") < 0).collect()
    )
    s2 = sorted(
        (r.vec_id, tuple(round(x, 9) for x in r.v))
        for r in out2.filter(F.col("vec_id") < 0).collect()
    )
    assert s1 == s2


def test_smote_bucket_cap_enforced(spark):
    """Adaptive refinement must bound every k-NN task, including the
    geometric worst case: identical vectors share one LSH sign pattern
    at every depth, so only the hash-salt fallback can split them."""
    import pandas as pd

    rows = [(i, [1.0, 2.0, 3.0], 1) for i in range(500)]  # all identical
    data = spark.createDataFrame(rows, "vec_id long, v array<double>, cls int")
    bucketed = balance._refine_buckets(
        data.selectExpr("vec_id as id", "v"), max_planes=12, bucket_cap=64, seed=42
    )
    sizes = [r.n for r in bucketed.groupBy("bucket").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) >= 2 and max(sizes) <= 64

    # and the full operator still balances + stays deterministic with a cap
    out = balance.smote(
        data, "vec_id", "v", "cls", minority_label=1, oversample_ratio=1, bucket_cap=64
    )
    assert out.filter(F.col("vec_id") < 0).count() == 500


def test_class_weights_inverse_frequency(spark):
    df = spark.createDataFrame([(0,)] * 8 + [(1,)] * 2, "cls int")
    w = balance.class_weights(df, "cls")
    vals = {r.cls: r.weight for r in w.select("cls", "weight").distinct().collect()}
    assert vals[0] == pytest.approx(10 / (2 * 8))
    assert vals[1] == pytest.approx(10 / (2 * 2))


def test_multimodal_feature_extract(spark):
    from data_warehouse_data_mining_spark.operators.multimodal import (
        decode_image,
        extract_features,
        with_payload,
    )

    d = with_payload(load(spark, SF_SMALL).documents.limit(20))
    feats = extract_features(d)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(r.n_bytes > 0 and 0.0 <= r.printable_ratio <= 1.0 for r in rows)
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_multimodal_resize_and_frame_sample(spark):
    from data_warehouse_data_mining_spark.operators.multimodal import (
        resize_payloads,
        sample_frames,
        with_payload,
    )

    d = with_payload(load(spark, SF_SMALL).documents.limit(10))
    resized = resize_payloads(d, target_bytes=32).collect()
    assert len(resized) == 10
    assert all(r.n_bytes == 32 and len(bytes(r.payload)) == 32 for r in resized)

    frames = sample_frames(d, n_frames=4, frame_bytes=8).collect()
    assert len(frames) == 40  # 1 row -> 4 frames
    assert all(len(bytes(r.frame)) <= 8 for r in frames)
    # deterministic: rerun yields identical bytes
    frames2 = sample_frames(d, n_frames=4, frame_bytes=8).collect()
    assert sorted((r.doc_id, r.frame_idx, bytes(r.frame)) for r in frames) == sorted(
        (r.doc_id, r.frame_idx, bytes(r.frame)) for r in frames2
    )


def test_reference_cv_grids_verbatim(spark):
    """The CV grids must match the reference's exactly
    (stroke_predict.py:183-208): NB 3, DT 3x3, RF 3x3, LR/SVC 3x3."""
    from data_warehouse_data_mining_spark.ml.classify import make_classifier, param_grid

    sizes = {}
    for name in ["naive_bayes", "decision_tree", "random_forest",
                 "logistic_regression", "linear_svc"]:
        clf = make_classifier(name)
        sizes[name] = len(param_grid(name, clf))
    assert sizes == {
        "naive_bayes": 3,
        "decision_tree": 9,
        "random_forest": 9,
        "logistic_regression": 9,
        "linear_svc": 9,
    }


def test_cv_parallelism_env(monkeypatch):
    """SPARK_GRAFT_CV_PARALLELISM: unset means min(grid, cores); a set
    value is clamped to >= 1; a non-integer names the variable."""
    from data_warehouse_data_mining_spark.ml.classify import _cv_parallelism

    monkeypatch.delenv("SPARK_GRAFT_CV_PARALLELISM", raising=False)
    assert _cv_parallelism(9, 4) == 4
    assert _cv_parallelism(3, 8) == 3
    assert _cv_parallelism(0, 8) == 1
    for raw, want in [("6", 6), (" 2 ", 2), ("0", 1), ("-3", 1), ("", 4)]:
        monkeypatch.setenv("SPARK_GRAFT_CV_PARALLELISM", raw)
        assert _cv_parallelism(9, 4) == want, raw
    for raw in ["abc", "2.5"]:
        monkeypatch.setenv("SPARK_GRAFT_CV_PARALLELISM", raw)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CV_PARALLELISM"):
            _cv_parallelism(9, 4)
