"""Class rebalancing: distributed SMOTE, undersampling, class weights.

The reference's SMOTE (smote_sampling.py:19-54) collects the entire
minority class to the driver, runs sklearn k-NN there, synthesizes in a
Python loop, and parallelizes back — two JVM↔driver round-trips holding
the minority class in driver memory, plus three latent bugs (SURVEY.md
§2.1 defects a-c: broken precedence in the percentage guard, neighbor
chosen from a global index instead of the row's own neighbor list, and
an undefined ``sc`` global).

This implementation keeps everything distributed and fixes the
neighbor-list bug (each synthetic row interpolates toward one of ITS
OWN k nearest neighbors):

1. bucket minority rows by a deterministic sign-random-projection LSH
   (locality-preserving, same family as operators/similarity.py);
2. per bucket, ``applyInPandas`` computes exact k-NN in numpy and
   synthesizes ``oversample_ratio`` rows per input row with an RNG
   seeded per input row id — deterministic re-runs;
3. union with the original rows, optional majority undersampling.

Bucket sizes are bounded (``bucket_cap``) by adaptive refinement: every
row carries a ``max_planes``-bit LSH code, and picks the SHALLOWEST
prefix level whose bucket is under the cap — dense regions get more
planes, sparse regions keep enough rows for good neighbors. A bucket
that cannot split geometrically (identical sign pattern at full depth,
e.g. colinear points) falls back to an exact in-bucket row-number
split, so
the per-task n² work is bounded no matter how skewed the embedding
distribution — the property that keeps this runnable at 100 TB.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.session import local_frame

SEED = 42
N_PLANES = 4  # 16 LSH buckets


def _lsh_code(max_planes: int, seed: int):
    """Arrow-batched sign-random-projection code packer.

    Each batch re-derives the SAME seeded plane matrix (`dim` is read
    off the batch itself), so the driver never runs a `.first()` job to
    discover the vector width, and the plan carries no
    `max_planes × dim` literal-array bloat. Deterministic: same seed +
    same dim → same planes → same codes on every executor and re-run.
    """

    @F.pandas_udf("long")
    def code(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        X = np.array(v.tolist(), dtype=np.float64)
        planes = np.round(
            np.random.RandomState(seed).standard_normal((max_planes, X.shape[1])),
            6,
        )
        bits = (X @ planes.T) > 0
        weights = 1 << np.arange(max_planes, dtype=np.int64)
        return pd.Series((bits @ weights).astype(np.int64))

    return code


def _refine_buckets(
    minority: DataFrame, max_planes: int, bucket_cap: int, seed: int
) -> DataFrame:
    """Assign each row the shallowest LSH-prefix bucket under the cap.

    One ``max_planes``-bit code per row, counted per full code in one
    Spark job. That count table is literal-bounded (at most
    2^max_planes rows), so it is collected and every code's bucket is
    picked on the driver: a level's prefix count is the sum of the
    full-code counts sharing that prefix, and the first (shallowest)
    level whose count fits the cap wins. The rows then join one
    broadcast ``(code, bucket)`` local frame.

    Codes still over the cap at full depth cannot be split by geometry
    (identical sign patterns), so their rows are split by in-bucket
    row number (deterministic: ordered by id) into exact cap-sized
    slices — locality is already exhausted there, and the cap must
    hold. That window shuffle is planned only when such a code exists,
    and it touches only the minority class.
    """
    coded = minority.withColumn(
        "code", _lsh_code(max_planes, seed)(F.col("v"))
    )
    code_counts = {
        r["code"]: r["cn"]
        for r in coded.groupBy("code").agg(F.count(F.lit(1)).alias("cn")).collect()
    }
    levels = list(range(N_PLANES, max_planes + 1, 2))
    level_counts = {lv: Counter() for lv in levels}
    for code, cn in code_counts.items():
        for lv in levels:
            level_counts[lv][code & ((1 << lv) - 1)] += cn

    def pick(code: int):
        # level tag keeps prefixes from different depths in distinct
        # buckets; None marks a code that overflows at full depth
        for lv in levels:
            prefix = code & ((1 << lv) - 1)
            if level_counts[lv][prefix] <= bucket_cap:
                return prefix + (lv << 24)
        return None

    buckets = [(code, pick(code)) for code in code_counts]
    mapping = local_frame(
        minority.sparkSession, buckets, "code bigint, bucket bigint"
    )
    # left, not inner: every counted code is in the map, and an inner
    # join's inferred isnotnull(code) filter would evaluate the LSH UDF
    # a second time below the join
    coded = coded.join(F.broadcast(mapping), "code", "left")
    bucket = F.col("bucket")
    if any(b is None for _, b in buckets):
        deepest = levels[-1]
        prefix = F.col("code").bitwiseAND((1 << deepest) - 1)
        rn = F.row_number().over(Window.partitionBy(prefix).orderBy("id"))
        salt = ((rn - 1) / F.lit(bucket_cap)).cast("long")
        bucket = F.coalesce(
            bucket, prefix + F.lit((deepest + 1) << 24) + salt * F.lit(1 << 16)
        )
    return coded.select("id", "v", bucket.alias("bucket"))


def smote(
    df: DataFrame,
    id_col: str,
    features_col: str,
    label_col: str,
    minority_label,
    k: int = 5,
    oversample_ratio: int = 2,
    seed: int = SEED,
    bucket_cap: int = 4096,
    max_planes: int = 12,
) -> DataFrame:
    """Return ``df`` plus ``oversample_ratio`` synthetic minority rows
    per minority row. ``features_col`` must be array<double>.

    Synthetic rows get negative ids (-(id * ratio + j + 1)) so they are
    distinguishable and deterministic.
    """
    minority = df.filter(F.col(label_col) == minority_label).select(
        F.col(id_col).alias("id"),
        F.col(features_col).alias("v"),
    )
    bucketed = _refine_buckets(minority, max_planes, bucket_cap, seed)

    out_schema = f"id bigint, v array<double>, label_out string"

    def synth(pdf: pd.DataFrame) -> pd.DataFrame:
        X = np.array(pdf["v"].tolist(), dtype=np.float64)
        ids = pdf["id"].to_numpy()
        n = len(pdf)
        if n >= 2:
            kk = min(k, n - 1)
            # exact per-bucket k-NN (euclidean)
            d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
            np.fill_diagonal(d2, np.inf)
            nn = np.argsort(d2, axis=1)[:, :kk]
        else:
            # singleton bucket: SMOTE degenerates to duplication
            kk = 1
            nn = np.zeros((n, 1), dtype=int)
        rows = []
        for i in range(n):
            rng = np.random.RandomState(seed + int(ids[i]) % (2**31 - 1))
            for j in range(oversample_ratio):
                neigh = nn[i][rng.randint(0, kk)]
                gap = rng.random_sample()
                x_new = X[i] + gap * (X[neigh] - X[i])
                rows.append(
                    {
                        "id": -(int(ids[i]) * oversample_ratio + j + 1),
                        "v": x_new.tolist(),
                        "label_out": "synthetic",
                    }
                )
        return pd.DataFrame(rows)

    synthetic = (
        bucketed.groupBy("bucket")
        .applyInPandas(synth, schema=out_schema)
        .select(
            F.col("id").alias(id_col),
            F.col("v").alias(features_col),
            F.lit(minority_label).alias(label_col),
        )
    )
    return df.select(id_col, features_col, label_col).unionByName(synthetic)


def undersample_majority(
    df: DataFrame, label_col: str, majority_label, fraction: float, seed: int = SEED
) -> DataFrame:
    """Seeded Bernoulli downsampling of the majority class (reference:
    smote_sampling.py:53)."""
    maj = df.filter(F.col(label_col) == majority_label).sample(
        withReplacement=False, fraction=fraction, seed=seed
    )
    return df.filter(F.col(label_col) != majority_label).unionByName(maj)


def class_weights(df: DataFrame, label_col: str, weight_col: str = "weight") -> DataFrame:
    """Cheap alternative to resampling: inverse-frequency weight column
    for ``weightCol``-aware estimators — no data movement at all."""
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n"))
    total = df.count()
    n_classes = counts.count()
    return df.join(F.broadcast(counts), label_col).withColumn(
        weight_col, F.lit(float(total)) / (F.lit(float(n_classes)) * F.col("n"))
    ).drop("n")
