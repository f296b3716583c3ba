"""Similarity search over ``array<float>`` embedding columns — generic
functions over any (id, vector) DataFrame; the registered queries
instantiate them on the ``embeddings`` table (64-d) with oracle mirrors.

Three tiers, mirroring how an ANN stack scales:

* **brute force** — exact top-k cosine for a small query set, broadcast
  against the corpus. The corpus never shuffles; cost is a single
  map-side pass + per-query top-k. This is the correctness baseline
  and stays viable at 100 TB when the query set is small.
* **hyperplane LSH** — seeded random hyperplanes → 2^p buckets; search
  only the query's bucket. Deterministic (fixed projection literals),
  so fully oracle-checkable — the scale path: a bucket equi-join
  replaces the per-query corpus scan.
* **MLlib BucketedRandomProjectionLSH** — the built-in approx join,
  rows-only checked (its hash family isn't reproducible in SQL).

All dot products fold in double precision (functions/vectors.py) to
match DuckDB's list_inner_product.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.functions import vectors as V
from data_warehouse_data_mining_spark.registry import register
from data_warehouse_data_mining_spark.session import local_frame

DIM = 64
N_PLANES = 8
N_QUERIES = 5
NEARDUP_COS = 0.4
IVF_NLIST = 16
IVF_NPROBE = 4

# Fixed random hyperplanes, rounded to 6 decimals so the identical
# decimal literals parse to the identical doubles in Spark and DuckDB.
_PLANES = np.round(np.random.RandomState(42).standard_normal((N_PLANES, DIM)), 6)


def random_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    return np.round(np.random.RandomState(seed).standard_normal((n_planes, dim)), 6)


def lsh_bucket_expr(vcol: Column, planes: np.ndarray) -> Column:
    """Sign-random-projection bucket id (one bit per hyperplane)."""
    bits = [
        F.when(
            V.dot(vcol, F.array(*[F.lit(float(x)) for x in planes[p]])) > 0,
            F.lit(1 << p),
        ).otherwise(F.lit(0))
        for p in range(planes.shape[0])
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


# ---------------------------------------------------------------------------
# Generic API
# ---------------------------------------------------------------------------


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "id",
    vec_col: str = "v",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
) -> DataFrame:
    """Exact top-k cosine neighbors per query: broadcast the (small)
    query set against the corpus — corpus-side no shuffle. Returns
    (q_id, neighbor_id, cosine, rn)."""
    cos = V.dot(F.col(q_vec_col), F.col(vec_col)) / (
        V.norm(F.col(q_vec_col)) * V.norm(F.col(vec_col))
    )
    w = W.partitionBy(q_id_col).orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        corpus.join(F.broadcast(queries), F.col(id_col) != F.col(q_id_col))
        .select(
            F.col(q_id_col).alias("q_id"),
            F.col(id_col).alias("neighbor_id"),
            cos.alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rn")
    )


def lsh_topk(
    corpus: DataFrame,
    query_filter: Column,
    planes: np.ndarray,
    k: int = 5,
    id_col: str = "id",
    vec_col: str = "v",
    multiprobe: bool = True,
) -> DataFrame:
    """ANN top-k: bucket the corpus by sign-random-projection LSH, then
    exact-rerank only the probed buckets. With ``multiprobe`` each query
    also probes every Hamming-distance-1 bucket (flip one hyperplane
    sign) — the standard recall fix for points near a boundary. Probes
    are EXPLODED on the tiny query side so the corpus join stays a plain
    equi-join on bucket id. Returns (q_id, neighbor_id, cosine, rn)."""
    n_planes = planes.shape[0]
    b = corpus.withColumn("bucket", lsh_bucket_expr(F.col(vec_col), planes))
    q = b.filter(query_filter).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    masks = [0] + ([1 << i for i in range(n_planes)] if multiprobe else [])
    q = (
        q.withColumn("mask", F.explode(F.array(*[F.lit(m) for m in masks])))
        .withColumn("probe", F.col("mask").bitwiseXOR(F.col("qbucket")))
        .drop("mask")
    )
    cos = V.dot(F.col("qv"), F.col(vec_col)) / (
        V.norm(F.col("qv")) * V.norm(F.col(vec_col))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        b.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("probe")) & (F.col(id_col) != F.col("q_id")),
        )
        .select("q_id", F.col(id_col).alias("neighbor_id"), cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rn")
    )


def blocked_cosine_pairs(
    df: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """Embedding near-duplicate pairs with blocking: pairwise work is
    confined to blocks (a label, an LSH bucket, a shard key), never a
    global crossJoin. Returns (id_a, id_b, cosine)."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(block_col).alias("blk_a"),
        F.col(vec_col).alias("va"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(block_col).alias("blk_b"),
        F.col(vec_col).alias("vb"),
    )
    cos = V.dot(F.col("va"), F.col("vb")) / (V.norm(F.col("va")) * V.norm(F.col("vb")))
    return (
        a.join(b, (F.col("blk_a") == F.col("blk_b")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Registered queries (embeddings-table instantiations)
# ---------------------------------------------------------------------------


def _sql_dot(vec_expr: str, p: int) -> str:
    lits = ", ".join(repr(float(v)) for v in _PLANES[p])
    return f"list_inner_product({vec_expr}, [{lits}]::DOUBLE[])"


def _sql_bucket(vec_expr: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN {_sql_dot(vec_expr, p)} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    return f"({terms})"


# Zero-norm embeddings (failed encoder rows — present in any real
# corpus) are EXCLUDED from the similarity tier: cosine is undefined
# for them, and under Spark 4's default ANSI mode the norm division
# would throw DIVIDE_BY_ZERO at runtime. The exclusion is the tier's
# documented contract, applied identically in _corpus and _ORACLE_E so
# every oracle mirrors it.
_ORACLE_E = (
    "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings"
    " WHERE list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)"
)
_ORACLE_COS = (
    "list_inner_product(q.qv, e.v) / "
    "(sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(e.v, e.v)))"
)


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-tier corpus: zero-norm rows excluded (see _ORACLE_E)."""
    return (
        load(spark, sf_dir)
        .embeddings.select(
            F.col("vec_id").alias("id"),
            "label",
            V.as_double(F.col("embedding")).alias("v"),
        )
        .filter(V.dot(F.col("v"), F.col("v")) > 0)
    )


@register(
    "knn_brute_force",
    headline=True,
    oracle=f"""
    WITH {_ORACLE_E},
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {N_QUERIES})
    SELECT q_id, neighbor_id, round(cos, 6) AS cosine, rn FROM (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             {_ORACLE_COS} AS cos,
             row_number() OVER (PARTITION BY q.q_id
                                ORDER BY {_ORACLE_COS} DESC, e.vec_id) AS rn
      FROM q JOIN e ON e.vec_id <> q.q_id
    ) t WHERE rn <= 10
    """,
)
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for query vectors 0..4 (generic:
    brute_force_topk)."""
    e = _corpus(spark, sf_dir)
    q = e.filter(F.col("id") < N_QUERIES).select(
        F.col("id").alias("q_id"), F.col("v").alias("qv")
    )
    return brute_force_topk(e, q, k=10)


_YARDSTICK_CACHE: dict[tuple[str, str, str], list[tuple[int, int, int]]] = {}


def _exact_top(spark: SparkSession, sf_dir: str, metric: str = "cos") -> DataFrame:
    """Exact brute-force top-k yardstick (q_id, neighbor_id, rn) shared
    by the retrieval-eval tier — computed ONCE per (session, sf,
    metric) and cached as literal rows (the _pq_codebooks fit-once
    discipline; VERDICT r9 #7). Before this, ann_ivf_kmeans,
    ann_lsh_recall_exact, ivf_nprobe_recall_curve, ndcg_retrieval_eval,
    pq_adc_search and ivf_pq_search EACH replanned the full
    query×corpus brute-force scan + per-query window just to measure
    recall; now the scan runs once per session per metric and every
    later consumer joins a ≤10·N_QUERIES-row literal frame.

    The collect here is a bounded FIT artifact (k·N_QUERIES ≤ 50 rows
    — like KMeans cluster centers), never corpus data; the result is
    deterministic because the ranking tie-breaks on neighbor_id.
    metric="cos": exact top-10 by cosine (consumers filter rn <= k).
    metric="l2": exact top-5 by squared L2 (the ADC tier's metric)."""
    key = (spark.sparkContext.applicationId, sf_dir, metric)
    if key not in _YARDSTICK_CACHE:
        if metric == "cos":
            df = knn_brute_force(spark, sf_dir).select(
                "q_id", "neighbor_id", "rn"
            )
        else:
            e = load(spark, sf_dir).embeddings.select(
                "vec_id", V.as_double(F.col("embedding")).alias("v")
            )
            q = e.filter(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
            )
            l2 = V.dot(
                F.zip_with("qv", "v", lambda a, b: a - b),
                F.zip_with("qv", "v", lambda a, b: a - b),
            )
            we = W.partitionBy("q_id").orderBy(
                F.col("l2"), F.col("neighbor_id")
            )
            df = (
                e.join(
                    # broadcast-ok: q is bounded by N_QUERIES (literal id filter)
                    F.broadcast(q), F.col("vec_id") != F.col("q_id")
                )
                .select(
                    "q_id", F.col("vec_id").alias("neighbor_id"), l2.alias("l2")
                )
                .withColumn("rn", F.row_number().over(we))
                .filter(F.col("rn") <= 5)
                .select("q_id", "neighbor_id", "rn")
            )
        _YARDSTICK_CACHE[key] = [
            (r["q_id"], r["neighbor_id"], r["rn"]) for r in df.collect()
        ]
    return local_frame(
        spark,
        _YARDSTICK_CACHE[key], "q_id bigint, neighbor_id bigint, rn int"
    )


@register(
    "ann_lsh_hyperplane",
    oracle=f"""
    WITH {_ORACLE_E},
    b AS (SELECT vec_id, v, {_sql_bucket('v')} AS bucket FROM e),
    q0 AS (SELECT vec_id AS q_id, v AS qv, bucket AS qbucket FROM b
           WHERE vec_id < {N_QUERIES}),
    q AS (SELECT q_id, qv, xor(qbucket, m.mask) AS probe
          FROM q0, (SELECT unnest([{", ".join(str(m) for m in [0] + [1 << i for i in range(N_PLANES)])}]) AS mask) m)
    SELECT q_id, neighbor_id, round(cos, 6) AS cosine, rn FROM (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             {_ORACLE_COS} AS cos,
             row_number() OVER (PARTITION BY q.q_id
                                ORDER BY {_ORACLE_COS} DESC, e.vec_id) AS rn
      FROM q JOIN b e ON e.bucket = q.probe AND e.vec_id <> q.q_id
    ) t WHERE rn <= 5
    """,
)
def ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via deterministic sign-random-projection LSH with Hamming-1
    multiprobe (generic: lsh_topk)."""
    return lsh_topk(_corpus(spark, sf_dir), F.col("id") < N_QUERIES, _PLANES, k=5)


@register(
    "cosine_neardup_blocked",
    oracle=f"""
    WITH {_ORACLE_E}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_inner_product(a.v, b.v) /
                 (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6)
             AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_inner_product(a.v, b.v) /
          (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))
          >= {NEARDUP_COS}
    """,
)
def cosine_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by label (generic:
    blocked_cosine_pairs). SCALE YARDSTICK, not the 100 TB path: the
    label vocabulary is FIXED, so block sizes grow linearly with the
    corpus and the in-block pair space quadratically (measured
    9.87x/8x, SCALING.md r13) — the production twin is
    cosine_neardup_lsh, whose bucket count follows the corpus."""
    return blocked_cosine_pairs(
        _corpus(spark, sf_dir), "label", NEARDUP_COS
    ).select(
        F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"), "cosine"
    )


# Seeded hyperplanes for the auto-sized near-dup blocking: 16 planes is
# the cap (65,536 buckets); neardup_n_planes picks how many of the low
# bits are live so expected bucket occupancy stays ~O(1) as the corpus
# grows (the simhash128_band_bits discipline).
_NEARDUP_PLANES = np.round(
    np.random.RandomState(43).standard_normal((16, DIM)), 6
)
_NEARDUP_TARGET_OCC = 4


def neardup_n_planes(n: int) -> int:
    """Live plane count for a corpus of n vectors: ceil(log2(n/4)),
    clamped to [8, 16] — bucket count tracks the corpus so per-bucket
    occupancy (and therefore per-bucket quadratic work) stays flat.
    Past ~2^18 vectors the 16-plane cap is the knee: add planes (one
    more CASE expression per bit), the join shape is unchanged."""
    import math

    return min(16, max(8, math.ceil(math.log2(max(n, 1) / _NEARDUP_TARGET_OCC))))


def _sql_nd_dot(vec_expr: str, p: int) -> str:
    lits = ", ".join(repr(float(v)) for v in _NEARDUP_PLANES[p])
    return f"list_inner_product({vec_expr}, [{lits}]::DOUBLE[])"


def _sql_nd_bucket(vec_expr: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN {_sql_nd_dot(vec_expr, p)} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(16)
    )
    return f"({terms})"


_ND_PAIR_COS = (
    "list_inner_product(a.v, b2.v) / "
    "(sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b2.v, b2.v)))"
)


@register(
    "cosine_neardup_lsh",
    oracle=f"""
    WITH {_ORACLE_E},
    np AS (SELECT LEAST(16, GREATEST(8,
             CAST(ceil(log2(GREATEST(count(*), 1) / {_NEARDUP_TARGET_OCC}.0))
                  AS INT))) AS p
           FROM e),
    b AS (SELECT vec_id, v,
                 {_sql_nd_bucket('v')} % CAST(pow(2, np.p) AS BIGINT) AS bk
          FROM e, np)
    SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
           round({_ND_PAIR_COS}, 6) AS cosine
    FROM b a JOIN b b2
      ON a.vec_id < b2.vec_id
     AND bit_count(xor(a.bk, b2.bk)) <= 1
    WHERE {_ND_PAIR_COS} >= {NEARDUP_COS}
    """,
)
def cosine_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked on an AUTO-SIZED sign-LSH
    bucket — the 100 TB twin of cosine_neardup_blocked. Charikar-style
    hyperplane signatures (public: Charikar 2002) put each vector in
    one of 2^p buckets with p following the corpus count
    (neardup_n_planes), and the pair contract is Hamming<=1 on bucket
    ids (multiprobe, Lv et al. 2007: one flipped hyperplane recovers
    boundary-straddling near-dups). Each unordered pair is produced
    EXACTLY once — the probe side explodes p+1 masks and a pair whose
    buckets differ in bit set D matches only the single mask equal to
    D (|D|<=1) — so no distinct() is needed, and the cosine threshold
    is fused INTO the join condition (the r13 SimHash lesson: verify
    before any shuffle, never after).

    Scale shape: probe fanout is (p+1) rows per vector, the join is a
    plain equi-join on bucket id with O(1) expected occupancy, and the
    only quadratic term is within-bucket — held flat by the log2(n)
    bucket rule. Deterministic plane literals keep the whole thing
    exactly mirrored in the DuckDB oracle."""
    e = _corpus(spark, sf_dir)
    p = neardup_n_planes(e.count())
    full = lsh_bucket_expr(F.col("v"), _NEARDUP_PLANES)
    b = e.select("id", "v", F.pmod(full, F.lit(1 << p)).alias("bk"))
    a = (
        b.select(
            F.col("id").alias("id_a"),
            F.col("v").alias("va"),
            F.col("bk").alias("bk_a"),
        )
        .withColumn(
            "mask",
            F.explode(F.array(*[F.lit(m) for m in [0] + [1 << i for i in range(p)]])),
        )
        .withColumn("probe", F.col("bk_a").bitwiseXOR(F.col("mask")))
        .drop("mask")
    )
    bb = b.select(
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("bk").alias("bk_b"),
    )
    cos = V.dot(F.col("va"), F.col("vb")) / (
        V.norm(F.col("va")) * V.norm(F.col("vb"))
    )
    return (
        a.join(
            bb,
            (F.col("probe") == F.col("bk_b"))
            & (F.col("id_a") < F.col("id_b"))
            & (cos >= NEARDUP_COS),
        )
        .select(
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            F.round(cos, 6).alias("cosine"),
        )
    )


@register(
    "embedding_stats",
    oracle=f"""
    WITH {_ORACLE_E}
    SELECT label, count(*) AS n,
           round(avg(sqrt(list_inner_product(v, v))), 6) AS avg_norm,
           round(min(v[1]), 6) AS min_c0,
           round(max(v[1]), 6) AS max_c0
    FROM e GROUP BY label
    """,
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding profile (count, mean L2 norm, first-component
    range) — all map-side expression work + one aggregate."""
    e = _corpus(spark, sf_dir)
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(V.norm(F.col("v"))), 6).alias("avg_norm"),
        F.round(F.min(F.element_at("v", 1)), 6).alias("min_c0"),
        F.round(F.max(F.element_at("v", 1)), 6).alias("max_c0"),
    )


@register(
    "ann_lsh_mllib",
    oracle=f"""
    WITH {_ORACLE_E}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(sqrt(list_inner_product(
               list_transform(range(1, {DIM + 1}), i -> a.v[i] - b.v[i]),
               list_transform(range(1, {DIM + 1}), i -> a.v[i] - b.v[i])
           )), 6) AS euclidean
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE sqrt(list_inner_product(
               list_transform(range(1, {DIM + 1}), i -> a.v[i] - b.v[i]),
               list_transform(range(1, {DIM + 1}), i -> a.v[i] - b.v[i])
           )) < 1.0
    ORDER BY vec_a, vec_b
    """,
)
def ann_lsh_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH approx similarity self-join
    (euclidean < 1.0), seeded. API PIN, not the scale path: the fixed
    bucketLength means bucket occupancy grows linearly with the corpus
    and the candidate space quadratically (measured: 5.27x/8x, then
    64x did not complete — SCALING.md r13); at 100 TB use the
    auto-sized hyperplane tiers (cosine_neardup_lsh, ann_lsh_hyperplane).

    Exact-oracle-checked against the GROUND-TRUTH pair set (brute-force
    all-pairs euclidean < 1.0 in SQL): approxSimilarityJoin re-checks
    the exact distance on every candidate, so its output is always a
    SUBSET of the truth — the hash-equality is therefore a live recall
    assertion (OR-amplified over 3 seeded tables, the join recovers
    every true sub-threshold pair on this corpus) plus a no-false-
    positives proof. The oracle's O(n²) join is the audit-scale cost
    the LSH join avoids in production; MLlib's hash family itself stays
    non-SQL (plane draws are JVM-seeded) but the seed pins it across
    runs and partitionings."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load(spark, sf_dir).embeddings.select(
        "vec_id", array_to_vector(V.as_double(F.col("embedding"))).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=3,
        seed=42,
    )
    model = lsh.fit(e)
    pairs = model.approxSimilarityJoin(e, e, 1.0, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.round("dist", 6).alias("euclidean"),
        )
    )


def _ivf_neighbors(
    spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """IVF-style ANN: seeded KMeans partitions the corpus into nlist
    coarse cells; each query probes its nprobe=4 nearest cells — the
    inverted-file index shape (train once, assign map-side, search =
    one equi-join on cell id). Returns (q_id, neighbor_id, cosine, rn).

    At 100 TB: centroids broadcast (nlist ≪ corpus), assignment is
    map-side, and each query touches nprobe/nlist of the corpus."""
    # fit-once cached coarse quantizer (shared with ivf_pq_search);
    # assignment is a map-side argmin expression, so each consumer is
    # just a parquet scan + projection — nothing corpus-sized to
    # persist (ADVICE r8 item 1)
    coarse = _pq_codebooks(spark, sf_dir, "ivf", 1, DIM, IVF_NLIST)[0]
    e = load(spark, sf_dir).embeddings.select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    ).filter(V.dot(F.col("v"), F.col("v")) > 0)  # cosine tier: see _ORACLE_E
    # Arrow-vectorized cell assignment (r12): the expression-fold form
    # built a ~1k-literal tree per consumer (x5 for the nprobe curve)
    assigned = e.withColumn(
        "cell",
        F.element_at(_pq_code_udf([], DIM, coarse=coarse)(F.col("v")), 1),
    )

    centers = local_frame(
        spark,
        [(i, c) for i, c in enumerate(coarse)],
        "center_cell int, center array<double>",
    )
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    dist2 = V.dot(
        F.zip_with("qv", "center", lambda a, b: a - b),
        F.zip_with("qv", "center", lambda a, b: a - b),
    )
    wprobe = W.partitionBy("q_id").orderBy(F.col("d2"), F.col("center_cell"))
    probes = (
        q.crossJoin(F.broadcast(centers))
        .withColumn("d2", dist2)
        .withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= nprobe)
        .select("q_id", "qv", F.col("center_cell").alias("probe_cell"))
    )
    cos = V.dot(F.col("qv"), F.col("v")) / (V.norm(F.col("qv")) * V.norm(F.col("v")))
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        assigned.join(
            F.broadcast(probes),  # broadcast-ok: bounded by N_QUERIES*nprobe rows
            (F.col("cell") == F.col("probe_cell")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rn")
    )


def _ivf_candidates_all_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, neighbor_id, cos, pr) for EVERY query x corpus-vector
    pair (self excluded), where pr is the probe rank of the neighbor's
    cell for that query under the same (distance², center_cell)
    ordering `_ivf_neighbors` probes with. One Arrow assignment pass +
    one broadcast join; the nprobe recall curve derives every sweep
    from this single table (filtering pr <= p reproduces the probe-p
    candidate set exactly, because probe lists are nested)."""
    coarse = _pq_codebooks(spark, sf_dir, "ivf", 1, DIM, IVF_NLIST)[0]
    e = load(spark, sf_dir).embeddings.select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    ).filter(V.dot(F.col("v"), F.col("v")) > 0)  # cosine tier: see _ORACLE_E
    assigned = e.withColumn(
        "cell",
        F.element_at(_pq_code_udf([], DIM, coarse=coarse)(F.col("v")), 1),
    )
    centers = local_frame(
        spark,
        [(i, c) for i, c in enumerate(coarse)],
        "center_cell int, center array<double>",
    )
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    dist2 = V.dot(
        F.zip_with("qv", "center", lambda a, b: a - b),
        F.zip_with("qv", "center", lambda a, b: a - b),
    )
    wprobe = W.partitionBy("q_id").orderBy(F.col("d2"), F.col("center_cell"))
    probes = (
        q.crossJoin(F.broadcast(centers))
        .withColumn("d2", dist2)
        .withColumn("pr", F.row_number().over(wprobe))
        .select("q_id", "qv", F.col("center_cell").alias("probe_cell"), "pr")
    )
    cos = V.dot(F.col("qv"), F.col("v")) / (
        V.norm(F.col("qv")) * V.norm(F.col("v"))
    )
    return (
        assigned.join(
            F.broadcast(probes),  # broadcast-ok: N_QUERIES*nlist rows
            (F.col("cell") == F.col("probe_cell"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"), "pr")
    )


@register(
    "ann_ivf_kmeans",
    oracle=f"""
    SELECT 'ivf_kmeans' AS variant, 16 AS nlist, 4 AS nprobe,
           CAST(count(*) AS BIGINT) AS n_queries,
           1 AS five_neighbors_per_query, 1 AS cosines_in_range,
           1 AS no_self_matches, 1 AS recall_at_least_0_3
    FROM embeddings WHERE vec_id < {N_QUERIES}
      AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    """,
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-KMeans ANN search contract (the scale tier above hyperplane
    LSH — see _ivf_neighbors for the index shape and 100 TB notes).

    Exact-oracle-checked as a PROPERTY (the k-means fit varies with
    input partitioning, so neighbor identities aren't SQL-mirrorable):
    the exact query count, every query returning exactly 5 ranked
    neighbors, cosines in [-1, 1], no query matched to itself, and —
    the model-behavior pin — recall@5 vs the exact brute-force top-5 of
    at least 0.3, comfortably below the ~0.7 the data-adaptive cells
    deterministically achieve here but above the nprobe/nlist = 0.25 a
    data-BLIND routing would expect on this i.i.d.-uniform corpus (the
    hash-exact recall twin for the deterministic LSH tier is
    ann_lsh_recall_exact)."""
    ivf = _ivf_neighbors(spark, sf_dir)
    exact = _exact_top(spark, sf_dir).filter(F.col("rn") <= 5).select(
        "q_id", "neighbor_id"
    )
    hits = exact.join(
        ivf.select("q_id", "neighbor_id"), ["q_id", "neighbor_id"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    per_q = ivf.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(F.col("cosine").between(-1.0, 1.0)).alias("cos_ok"),
        F.min(F.col("neighbor_id") != F.col("q_id")).alias("no_self"),
        F.min(F.col("rn")).alias("rn_min"),
        F.max(F.col("rn")).alias("rn_max"),
    )
    stats = per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.min(
            (F.col("n_rows") == 5) & (F.col("rn_min") == 1) & (F.col("rn_max") == 5)
        ).cast("int").alias("five_neighbors_per_query"),
        F.min("cos_ok").cast("int").alias("cosines_in_range"),
        F.min("no_self").cast("int").alias("no_self_matches"),
    )
    return (
        stats.crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(n_exact))
        .select(
            F.lit("ivf_kmeans").alias("variant"),
            F.lit(16).cast("int").alias("nlist"),
            F.lit(4).cast("int").alias("nprobe"),
            F.col("n_queries").cast("long").alias("n_queries"),
            "five_neighbors_per_query",
            "cosines_in_range",
            "no_self_matches",
            (
                F.col("n_hits").cast("double") / F.col("n_exact") >= 0.3
            ).cast("int").alias("recall_at_least_0_3"),
        )
    )


@register(
    "ann_lsh_recall_exact",
    oracle=f"""
    WITH {_ORACLE_E},
    b AS (SELECT vec_id, v, {_sql_bucket('v')} AS bucket FROM e),
    q0 AS (SELECT vec_id AS q_id, v AS qv, bucket AS qbucket FROM b
           WHERE vec_id < {N_QUERIES}),
    exact AS (
      SELECT q_id, neighbor_id FROM (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {_ORACLE_COS} DESC, e.vec_id) AS rn
        FROM (SELECT q_id, qv FROM q0) q JOIN e ON e.vec_id <> q.q_id
      ) t WHERE rn <= 5
    ),
    q AS (SELECT q_id, qv, xor(qbucket, m.mask) AS probe
          FROM q0, (SELECT unnest([{", ".join(str(m) for m in [0] + [1 << i for i in range(N_PLANES)])}]) AS mask) m),
    lsh AS (
      SELECT q_id, neighbor_id FROM (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {_ORACLE_COS} DESC, e.vec_id) AS rn
        FROM q JOIN b e ON e.bucket = q.probe AND e.vec_id <> q.q_id
      ) t WHERE rn <= 5
    )
    SELECT 'lsh_hyperplane' AS variant,
           CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact_pairs,
           round(CAST((SELECT count(*) FROM exact e
                       JOIN lsh l ON l.q_id = e.q_id
                                 AND l.neighbor_id = e.neighbor_id)
                      AS DOUBLE)
                 / (SELECT count(*) FROM exact), 4) AS recall_at_5
    """,
)
def ann_lsh_recall_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the hyperplane-LSH ANN against exact brute force,
    with a FULL value oracle: the sign-random-projection buckets are
    literal-plane deterministic, so the entire accuracy measurement —
    bucketing, multiprobe, re-rank, set intersection, recall ratio —
    is reproducible in SQL. The IVF tier's recall is pinned as a
    property band instead (``ann_ivf_kmeans``: k-means centroids aren't
    SQL-reproducible, so its recall flag bounds rather than mirrors).

    Spark shape: both sides reuse the production builders; the hit
    count is a left-semi join of two tiny (n_queries × 5) top-k sets;
    the exact side is the session-cached fit-once yardstick."""
    exact = _exact_top(spark, sf_dir).filter(F.col("rn") <= 5).select(
        "q_id", "neighbor_id"
    )
    lsh = ann_lsh_hyperplane(spark, sf_dir).select("q_id", "neighbor_id")
    hits = exact.join(lsh, ["q_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("hits")
    )
    totals = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    return totals.crossJoin(F.broadcast(hits)).select(
        F.lit("lsh_hyperplane").alias("variant"),
        "n_exact_pairs",
        F.round(
            F.col("hits").cast("double") / F.col("n_exact_pairs"), 4
        ).alias("recall_at_5"),
    )


@register(
    "embedding_centroids_by_label",
    oracle="""
    SELECT label, CAST(pos AS INT) AS pos, round(avg(v), 6) AS mean_v
    FROM (SELECT label,
                 unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY label, pos
    ORDER BY label, pos
    """,
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class centroid of the embedding column, long format
    (label, dimension, mean) — the building block of IVF training,
    nearest-centroid classification, and class-prototype dedup.

    posexplode + one hash aggregate: the per-(label, dim) partial means
    combine map-side, so the shuffle carries at most
    |labels| × dim × partitions rows regardless of corpus size — the
    vector mean that survives 100 TB. Rounded to 6 decimals because
    double accumulation order differs between engines (~1e-13 jitter on
    unit-scale floats; same canon as correlation_matrix)."""
    e = load(spark, sf_dir).embeddings
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(F.round(F.avg("v"), 6).alias("mean_v"))
        .orderBy("label", "pos")
    )


@register(
    "embedding_quantization",
    oracle="""
    WITH el AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS e
      FROM embeddings
    ),
    dims AS (SELECT pos, min(e) AS mn, max(e) AS mx FROM el GROUP BY pos),
    q AS (
      SELECT el.vec_id, el.e, dims.mn, dims.mx,
             CASE WHEN dims.mx = dims.mn THEN 0.0
                  ELSE round((el.e - dims.mn) * 255.0 / (dims.mx - dims.mn))
             END AS qv,
             CASE WHEN dims.mx = dims.mn THEN 0.0
                  ELSE (dims.mx - dims.mn) / 255.0 END AS step
      FROM el JOIN dims USING (pos)
    ),
    err AS (
      SELECT vec_id, step,
             abs(e - (mn + qv * (mx - mn) / 255.0)) AS ae
      FROM q
    )
    SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vectors,
           CAST(count(*) // count(DISTINCT vec_id) AS BIGINT) AS dim,
           CAST(sum(CASE WHEN ae <= step * 0.5000001 THEN 0 ELSE 1 END)
                AS BIGINT) AS n_violations,
           round(CAST(sum(CAST(round(ae, 12) AS DECIMAL(38,12))) AS DOUBLE)
                 / count(*), 6) AS mean_abs_err
    FROM err
    """,
)
def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column with its
    reconstruction-error guarantee checked in-engine: per-dimension
    min/max ranges → 8-bit codes → dequantize → |x - x̂| must stay
    within half a quantization step for EVERY element (n_violations
    pinned to 0 by the oracle), plus the corpus mean absolute error.
    Scalar quantization is the standard 4× memory cut before ANN
    serving; the guarantee is what makes it safe to apply blindly.

    Scale shape: per-dim ranges are a 1-shuffle aggregate over
    |dim| groups (map-side partial), broadcast back onto the exploded
    elements; everything else is element-local arithmetic. Per-element
    errors round to 12 decimals and sum through DECIMAL so the mean is
    accumulation-order independent and engine-exact (both engines run
    the identical IEEE ops per element — only the SUM order differs,
    and DECIMAL kills that)."""
    e = load(spark, sf_dir).embeddings
    el = e.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "e0"),
    ).select("vec_id", "pos", F.col("e0").cast("double").alias("e"))
    dims = el.groupBy("pos").agg(F.min("e").alias("mn"), F.max("e").alias("mx"))
    j = el.join(F.broadcast(dims), "pos")
    flat = F.col("mx") == F.col("mn")
    qv = F.when(flat, F.lit(0.0)).otherwise(
        F.round((F.col("e") - F.col("mn")) * 255.0 / (F.col("mx") - F.col("mn")), 0)
    )
    step = F.when(flat, F.lit(0.0)).otherwise((F.col("mx") - F.col("mn")) / 255.0)
    recon = F.col("mn") + qv * (F.col("mx") - F.col("mn")) / 255.0
    ae = F.abs(F.col("e") - recon)
    return j.select("vec_id", ae.alias("ae"), step.alias("step")).agg(
        F.countDistinct("vec_id").alias("n_vectors"),
        F.expr("count(1) div count(DISTINCT vec_id)").alias("dim"),
        F.sum(
            F.when(F.col("ae") <= F.col("step") * 0.5000001, 0).otherwise(1)
        ).alias("n_violations"),
        F.round(
            F.sum(F.round(F.col("ae"), 12).cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_abs_err"),
    )


@register(
    "embedding_dim_correlation",
    oracle="""
    WITH ex AS (
      SELECT vec_id, i,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT)
               AS xf
      -- DuckDB generate_series can't take lateral column args; the
      -- embeddings table is fixed 64-d (TESTDATA.md), so the series is
      -- a constant cross join
      FROM embeddings, generate_series(1, 64) AS g(i)
    ),
    pairs AS (
      SELECT a.i AS i, b.i AS j,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a.xf) AS BIGINT) AS sx,
             CAST(sum(b.xf) AS BIGINT) AS sy,
             CAST(sum(a.xf * a.xf) AS BIGINT) AS sxx,
             CAST(sum(b.xf * b.xf) AS BIGINT) AS syy,
             CAST(sum(a.xf * b.xf) AS BIGINT) AS sxy
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i < b.i
      GROUP BY a.i, b.i
    ),
    corr AS (
      SELECT CAST(i AS INT) AS dim_i, CAST(j AS INT) AS dim_j, n,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
      FROM pairs
      -- r is undefined when either dim has zero variance (a constant
      -- dimension): exclude the pair on BOTH engines (Spark ANSI would
      -- throw on the 0-division; DuckDB would carry a NULL r into the
      -- top-20 ordering)
      WHERE (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
    )
    SELECT dim_i, dim_j, n, round(r, 6) AS pearson_r
    FROM corr
    ORDER BY abs(r) DESC, dim_i, dim_j
    LIMIT 20
    """,
)
def embedding_dim_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-correlated embedding dimension pairs (|Pearson r|) —
    the redundancy diagnostic that motivates PCA/quantization: highly
    correlated dims mean the vector space wastes capacity and distance
    math can drop/merge them.

    The pair stream is generated MAP-SIDE from each row's array (a
    nested transform over (i, j>i) flattened to 2016 structs per row) —
    no self-join, no shuffle of exploded data; the only exchanges are
    the partial-aggregated 2016-key pair rollup and a 64-key per-dim
    rollup that the pair table joins back (broadcast, pair-count
    sized). Values are quantized to exact 1e-6 fixed-point BIGINTs
    first, so all five moment sums are exact integers and both engines
    derive r from identical numbers (int64 holds Σx·y up to ~10⁹ rows
    at this magnitude; past that, promote the sums to DECIMAL(38,0) —
    the gini_customer_spend pattern — at the cost of ulp-level oracle
    slack). The final r is one identical double expression; ordering
    ties break on (i, j)."""
    em = load(spark, sf_dir).embeddings
    q = em.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
        ).alias("ef"),
    )
    # per-dim marginals: one 64-way explode, 64-key agg
    dims = (
        q.select(F.posexplode("ef").alias("i0", "xf"))
        .groupBy((F.col("i0") + 1).alias("i"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xf").cast("long").alias("s"),
            F.sum(F.col("xf") * F.col("xf")).cast("long").alias("ss"),
        )
    )
    # cross-moment stream: 2016 (i, j, xi*xj) structs per row, all codegen
    prods = q.select(
        F.explode(
            F.expr(
                # sequence(a, b) DESCENDS when a > b (it is not empty), so the
            # outer index must stop at size-1 to keep (i, j>i) pairs only
            "flatten(transform(sequence(1, size(ef) - 1),"
                " i -> transform(sequence(i + 1, size(ef)),"
                " j -> struct(i AS i, j AS j,"
                " element_at(ef, i) * element_at(ef, j) AS xy))))"
            )
        ).alias("p")
    ).select("p.i", "p.j", "p.xy")
    pairs = (
        prods.groupBy("i", "j")
        .agg(F.sum("xy").cast("long").alias("sxy"))
        .join(
            F.broadcast(
                dims.select(
                    F.col("i"),
                    F.col("n"),
                    F.col("s").alias("sx"),
                    F.col("ss").alias("sxx"),
                )
            ),
            "i",
        )
        .join(
            F.broadcast(
                dims.select(
                    F.col("i").alias("j"),
                    F.col("s").alias("sy"),
                    F.col("ss").alias("syy"),
                )
            ),
            "j",
        )
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    varx = nd * F.col("sxx").cast("double") - sx * sx
    vary = nd * F.col("syy").cast("double") - sy * sy
    r = (nd * F.col("sxy").cast("double") - sx * sy) / F.sqrt(varx * vary)
    return (
        pairs.filter((varx > 0) & (vary > 0))  # constant dim: r undefined
        .select(
            F.col("i").cast("int").alias("dim_i"),
            F.col("j").cast("int").alias("dim_j"),
            "n",
            r.alias("r"),
        )
        .orderBy(F.abs(F.col("r")).desc(), "dim_i", "dim_j")
        .limit(20)
        .select("dim_i", "dim_j", "n", F.round("r", 6).alias("pearson_r"))
    )


N_EVAL_QUERIES = 100
KNN_EVAL_K = 5


@register(
    "knn_label_accuracy",
    oracle=f"""
    WITH {_ORACLE_E},
    q AS (SELECT vec_id AS q_id, v AS qv FROM e
          WHERE vec_id < {N_EVAL_QUERIES}),
    nn AS (
      SELECT q_id, neighbor_id FROM (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {_ORACLE_COS} DESC, e.vec_id) AS rn
        FROM q JOIN e ON e.vec_id <> q.q_id
      ) t WHERE rn <= {KNN_EVAL_K}
    ),
    votes AS (
      SELECT nn.q_id, e.label AS nl, count(*) AS cnt
      FROM nn JOIN e ON e.vec_id = nn.neighbor_id
      GROUP BY nn.q_id, e.label
    ),
    pred AS (
      SELECT q_id, nl AS predicted FROM (
        SELECT q_id, nl,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cnt DESC, nl ASC) AS vr
        FROM votes
      ) v WHERE vr = 1
    )
    SELECT CAST(e.label AS INT) AS true_label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN p.predicted = e.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN p.predicted = e.label THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS accuracy
    FROM pred p JOIN e ON e.vec_id = p.q_id
    GROUP BY e.label
    ORDER BY true_label
    """,
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification evaluation on the labeled embeddings: for the
    first {N_EVAL_QUERIES} vectors, predict the label by majority vote
    of the 5 exact cosine neighbors (self excluded; vote ties break to
    the smaller label) and report per-class accuracy — the
    retrieval-quality readout that validates an embedding space before
    trusting it for dedup or search, and the deterministic twin of
    MLlib's RNG-dependent classifiers (every step here is
    oracle-checkable).

    Scale shape: the query block broadcasts against the corpus
    (brute_force_topk — the corpus never shuffles), votes are one
    hash-agg over q×k rows, and the argmax is a window over ≤ k rows
    per query. Evaluating MORE queries batches into the same one pass;
    at full-corpus leave-one-out scale the broadcast side swaps for the
    LSH-bucketed join (ann_lsh_hyperplane's shape)."""
    e = _corpus(spark, sf_dir)
    q = e.filter(F.col("id") < N_EVAL_QUERIES).select(
        F.col("id").alias("q_id"), F.col("v").alias("qv")
    )
    nn = brute_force_topk(e, q, k=KNN_EVAL_K)
    votes = (
        nn.join(
            e.select(F.col("id").alias("neighbor_id"), F.col("label").alias("nl")),
            "neighbor_id",
        )
        .groupBy("q_id", "nl")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wv = W.partitionBy("q_id").orderBy(F.col("cnt").desc(), F.col("nl").asc())
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("q_id", F.col("nl").alias("predicted"))
    )
    truth = e.select(F.col("id").alias("q_id"), F.col("label").alias("true_label"))
    return (
        pred.join(truth, "q_id")
        .groupBy(F.col("true_label").cast("int").alias("true_label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(
                F.when(F.col("predicted") == F.col("true_label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
            F.round(
                F.sum(
                    F.when(F.col("predicted") == F.col("true_label"), 1).otherwise(0)
                )
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("accuracy"),
        )
        .orderBy("true_label")
    )


N_MARGIN_ANCHORS = 50


@register(
    "embedding_margin_audit",
    oracle=f"""
    WITH {_ORACLE_E},
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e
          WHERE vec_id < {N_MARGIN_ANCHORS}),
    pairs AS (
      SELECT q.q_id, q.q_label,
             CASE WHEN e.label = q.q_label THEN 1 ELSE 0 END AS same,
             CAST(round({_ORACLE_COS} * 1000000, 0) AS BIGINT) AS cos_fp
      FROM q JOIN e ON e.vec_id <> q.q_id
    ),
    per_anchor AS (
      SELECT q_id, q_label,
             CAST(sum(CASE WHEN same = 1 THEN cos_fp END) AS BIGINT) AS s_same,
             CAST(sum(CASE WHEN same = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
             CAST(sum(CASE WHEN same = 0 THEN cos_fp END) AS BIGINT) AS s_diff,
             CAST(sum(CASE WHEN same = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_diff
      FROM pairs GROUP BY q_id, q_label
    ),
    margins AS (
      SELECT q_label,
             (s_same - (s_same % n_same + n_same) % n_same) / n_same
             - (s_diff - (s_diff % n_diff + n_diff) % n_diff) / n_diff
               AS margin_fp
      FROM per_anchor WHERE n_same > 0 AND n_diff > 0
    )
    SELECT CAST(q_label AS INT) AS label,
           CAST(count(*) AS BIGINT) AS n_anchors,
           round(avg(margin_fp) / 1000000.0, 6) AS mean_margin,
           CAST(sum(CASE WHEN margin_fp <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations
    FROM margins GROUP BY q_label ORDER BY label
    """,
)
def embedding_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space margin audit: for each anchor vector, the mean
    cosine to SAME-label vectors minus the mean to OTHER-label vectors;
    per class report the average margin and how many anchors VIOLATE
    (margin ≤ 0 — the anchor sits closer to foreign classes than its
    own). A space that k-NN accuracy flatters can still fail here: the
    margin is the metric-learning training objective itself, so this
    audit says whether the space has separation to spare or is riding
    ties.

    Cosines quantize to exact 1e-6 fixed-point BIGINTs BEFORE any
    summation, per-anchor means use sign-safe floor division, and the
    per-class mean averages ≤{N_MARGIN_ANCHORS} exact integers — no
    float accumulation order anywhere (the dominant_term_clusters
    lesson). One broadcast of the anchor block against the corpus, the
    same never-shuffle-the-corpus shape as knn_brute_force."""
    e = _corpus(spark, sf_dir)
    q = e.filter(F.col("id") < N_MARGIN_ANCHORS).select(
        F.col("id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    cos = V.dot(F.col("qv"), F.col("v")) / (
        V.norm(F.col("qv")) * V.norm(F.col("v"))
    )
    pairs = e.join(F.broadcast(q), F.col("id") != F.col("q_id")).select(
        "q_id",
        "q_label",
        (F.col("label") == F.col("q_label")).cast("int").alias("same"),
        F.round(cos * 1_000_000, 0).cast("long").alias("cos_fp"),
    )
    per_anchor = pairs.groupBy("q_id", "q_label").agg(
        F.sum(F.when(F.col("same") == 1, F.col("cos_fp"))).cast("long").alias("s_same"),
        F.sum(F.when(F.col("same") == 1, 1).otherwise(0)).cast("long").alias("n_same"),
        F.sum(F.when(F.col("same") == 0, F.col("cos_fp"))).cast("long").alias("s_diff"),
        F.sum(F.when(F.col("same") == 0, 1).otherwise(0)).cast("long").alias("n_diff"),
    )

    def fdiv(a: str, b: str) -> F.Column:
        return F.expr(f"({a} - pmod({a}, {b})) div {b}")

    margins = per_anchor.filter(
        (F.col("n_same") > 0) & (F.col("n_diff") > 0)
    ).select(
        "q_label",
        (fdiv("s_same", "n_same") - fdiv("s_diff", "n_diff")).alias(
            "margin_fp"
        ),
    )
    return (
        margins.groupBy(F.col("q_label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_anchors"),
            F.round(F.avg("margin_fp") / 1_000_000.0, 6).alias("mean_margin"),
            F.sum(F.when(F.col("margin_fp") <= 0, 1).otherwise(0))
            .cast("long")
            .alias("n_violations"),
        )
        .orderBy("label")
    )


@register(
    "semdedup_bucket_representatives",
    oracle=f"""
    WITH {_ORACLE_E},
    b AS (SELECT vec_id, v, {_sql_bucket('v')} AS bucket FROM e),
    ex AS (
      SELECT vec_id, bucket,
             CAST(generate_subscripts(v, 1) AS INT) AS pos,
             unnest(v) AS val
      FROM b
    ),
    cent AS (
      SELECT bucket, pos, round(avg(val), 6) AS c
      FROM ex GROUP BY bucket, pos
    ),
    normc AS (
      SELECT bucket, sqrt(sum(c * c)) AS nc FROM cent GROUP BY bucket
    ),
    dots AS (
      SELECT ex.vec_id, ex.bucket,
             sum(ex.val * cent.c) AS dot,
             sqrt(sum(ex.val * ex.val)) AS nv
      FROM ex JOIN cent ON cent.bucket = ex.bucket AND cent.pos = ex.pos
      GROUP BY ex.vec_id, ex.bucket
    ),
    scored AS (
      SELECT d.bucket, d.vec_id,
             d.dot / (d.nv * n.nc) AS cos,
             row_number() OVER (PARTITION BY d.bucket
                                ORDER BY d.dot / (d.nv * n.nc) DESC, d.vec_id)
               AS rn,
             count(*) OVER (PARTITION BY d.bucket) AS n_members
      FROM dots d JOIN normc n ON n.bucket = d.bucket
    )
    SELECT bucket, CAST(n_members AS BIGINT) AS n_members,
           CAST(vec_id AS BIGINT) AS rep_id,
           round(cos, 6) AS rep_centroid_cos,
           CAST(n_members - 1 AS BIGINT) AS n_dropped
    FROM scored
    WHERE rn = 1 AND n_members >= 2
    ORDER BY bucket
    """,
)
def semdedup_bucket_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): partition the
    embedding space (here: the deterministic sign-random-projection
    buckets ann_lsh_hyperplane already uses — the oracle-checkable
    stand-in for k-means cells), compute each cell's centroid, and keep
    only the member closest to it; everything else in the cell is the
    semantic-duplicate budget. Returns, per multi-member bucket, the
    survivor and how many near-semantic-duplicates it absorbs.

    Scale shape: centroids come from the posexplode + (bucket, dim)
    hash-agg (map-side partial means — shuffle bounded by
    buckets × dim, not corpus size); member-to-centroid cosines reuse
    the exploded stream with one more join + agg; the per-bucket
    argmax is a window over bucket-sized groups. No pairwise work at
    all — O(n·d) total, which is the entire point of SemDeDup vs
    pairwise near-dup at 100 TB."""
    e = _corpus(spark, sf_dir)
    b = e.withColumn("bucket", lsh_bucket_expr(F.col("v"), _PLANES))
    ex = b.select(
        "id", "bucket", F.posexplode("v").alias("pos0", "val")
    ).select("id", "bucket", (F.col("pos0") + 1).cast("int").alias("pos"), "val")
    # buckets × dim rows — checkpointing the tiny centroid table stops
    # its two consumers (norm + member-dot join) from re-deriving it,
    # which would re-scan the corpus: 4 parquet scans drop to 2
    cent = (
        ex.groupBy("bucket", "pos")
        .agg(F.round(F.avg("val"), 6).alias("c"))
        .localCheckpoint(eager=True)
    )
    normc = cent.groupBy("bucket").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc")
    )
    dots = (
        ex.join(cent, ["bucket", "pos"])
        .groupBy("id", "bucket")
        .agg(
            F.sum(F.col("val") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nv"),
        )
    )
    cos = F.col("dot") / (F.col("nv") * F.col("nc"))
    w = W.partitionBy("bucket").orderBy(F.col("cos").desc(), F.col("id"))
    return (
        dots.join(normc, "bucket")
        .withColumn("cos", cos)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(W.partitionBy("bucket")))
        .filter((F.col("rn") == 1) & (F.col("n_members") >= 2))
        .select(
            "bucket",
            F.col("n_members").cast("long").alias("n_members"),
            F.col("id").cast("long").alias("rep_id"),
            F.round("cos", 6).alias("rep_centroid_cos"),
            (F.col("n_members") - 1).cast("long").alias("n_dropped"),
        )
        .orderBy("bucket")
    )


N_ANCHORS = 20
HARDNEG_K = 3


def hard_negatives(
    corpus: DataFrame,
    anchor_filter: Column,
    planes: np.ndarray,
    k: int = HARDNEG_K,
    id_col: str = "id",
    vec_col: str = "v",
    label_col: str = "label",
) -> DataFrame:
    """Per-anchor top-k most-similar vectors with a DIFFERENT label —
    the hard-negative mining step of contrastive / metric-learning data
    prep (a positive pair's loss is only informative next to negatives
    the model currently confuses).

    Same 100 TB shape as lsh_topk: bucket the corpus once by
    sign-random-projection, explode Hamming-1 multiprobes on the tiny
    anchor side, broadcast it into one bucket equi-join, exact-rerank
    only the probed buckets. The label-differs predicate rides the same
    join, so cross-label candidates are pruned before the window.
    Returns (anchor_id, anchor_label, negative_id, negative_label,
    cosine, rn)."""
    n_planes = planes.shape[0]
    b = corpus.withColumn("bucket", lsh_bucket_expr(F.col(vec_col), planes))
    q = b.filter(anchor_filter).select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        F.col(vec_col).alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    masks = [0] + [1 << i for i in range(n_planes)]
    q = (
        q.withColumn("mask", F.explode(F.array(*[F.lit(m) for m in masks])))
        .withColumn("probe", F.col("mask").bitwiseXOR(F.col("qbucket")))
        .drop("mask")
    )
    cos = V.dot(F.col("qv"), F.col(vec_col)) / (
        V.norm(F.col("qv")) * V.norm(F.col(vec_col))
    )
    w = W.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), F.col("negative_id")
    )
    return (
        b.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("probe"))
            & (F.col(label_col) != F.col("anchor_label")),
        )
        .select(
            "anchor_id",
            "anchor_label",
            F.col(id_col).alias("negative_id"),
            F.col(label_col).alias("negative_label"),
            cos.alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "anchor_id",
            "anchor_label",
            "negative_id",
            "negative_label",
            F.round("cos", 6).alias("cosine"),
            "rn",
        )
    )


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH {_ORACLE_E},
    b AS (SELECT vec_id, label, v, {_sql_bucket('v')} AS bucket FROM e),
    q0 AS (SELECT vec_id AS anchor_id, label AS anchor_label, v AS qv,
                  bucket AS qbucket
           FROM b WHERE vec_id < {N_ANCHORS}),
    q AS (SELECT anchor_id, anchor_label, qv, xor(qbucket, m.mask) AS probe
          FROM q0, (SELECT unnest([{", ".join(str(m) for m in [0] + [1 << i for i in range(N_PLANES)])}]) AS mask) m)
    SELECT anchor_id, anchor_label, negative_id, negative_label,
           round(cos, 6) AS cosine, rn
    FROM (
      SELECT q.anchor_id, q.anchor_label, e.vec_id AS negative_id,
             e.label AS negative_label,
             {_ORACLE_COS} AS cos,
             row_number() OVER (PARTITION BY q.anchor_id
                                ORDER BY {_ORACLE_COS} DESC, e.vec_id) AS rn
      FROM q JOIN b e ON e.bucket = q.probe AND e.label <> q.anchor_label
    ) t WHERE rn <= {HARDNEG_K}
    ORDER BY anchor_id, rn
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for the first N_ANCHORS vectors: top-3
    cross-label cosine neighbors found through the deterministic
    LSH bucket join (generic: hard_negatives). The contrastive-training
    sibling of embedding_margin_audit — that one measures how separable
    labels currently are; this one emits the pairs a trainer would add
    to fix it."""
    return hard_negatives(
        _corpus(spark, sf_dir), F.col("id") < N_ANCHORS, _PLANES
    ).orderBy("anchor_id", "rn")


PQ_SUBSPACES = 4
PQ_SUBDIM = DIM // PQ_SUBSPACES
PQ_K = 16

# Train-once codebook cache for the PQ/IVF tier (VERDICT r8 item 5):
# one seeded KMeans fit per (session, sf_dir, tag, shape) — shared by
# embedding_pq_quantization, pq_adc_search, ann_ivf_kmeans and
# ivf_pq_search, so a full registry sweep trains each codebook family
# once instead of per-invocation. Values are driver-side center lists
# (tiny: n_sub × k × subdim floats); code assignment then happens as a
# pure map-side argmin EXPRESSION over the center literals, so the
# corpus-sized MLlib transform output never exists, let alone persists
# (closes ADVICE r8 item 1 — the un-unpersisted corpus caches).
_CODEBOOK_CACHE: dict[tuple, list[list[list[float]]]] = {}
# bounded (≤ PQ_FIT_CAP × DIM doubles) driver-side training sample per
# (app, sf) — a fit artifact, never corpus data
_FIT_SAMPLE_CACHE: dict[tuple, "np.ndarray"] = {}


PQ_FIT_CAP = 16_384  # max rows any codebook fit ever sees (FAISS-style
#                      train-on-a-sample: at 100 TB the fit is still one
#                      bounded collect, never a corpus-sized MLlib job)


def _lloyd_pp(x: "np.ndarray", k: int, seed: int, iters: int = 20) -> "np.ndarray":
    """Seeded k-means++ init + fixed-iteration Lloyd's, pure numpy.
    Deterministic for a fixed input row order (the caller sorts the
    sample by vec_id): init draws come from RandomState(seed), the
    assign step is an exact argmin over the n×k distance matrix
    (||x||² + ||c||² − 2x·cᵀ — no n×k×d blowup), and the update is a
    per-cluster mean in index order. Empty clusters keep their center."""
    n = x.shape[0]
    k = min(k, n)
    rng = np.random.RandomState(seed)
    centers = np.empty((k, x.shape[1]), dtype=np.float64)
    centers[0] = x[rng.randint(n)]
    d2 = ((x - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        tot = d2.sum()
        if tot > 0:
            centers[j] = x[rng.choice(n, p=d2 / tot)]
        else:
            centers[j] = x[rng.randint(n)]
        d2 = np.minimum(d2, ((x - centers[j]) ** 2).sum(axis=1))
    xsq = (x**2).sum(axis=1)[:, None]
    for _ in range(iters):
        dists = xsq + (centers**2).sum(axis=1)[None, :] - 2.0 * (x @ centers.T)
        a = dists.argmin(axis=1)
        for j in range(k):
            members = x[a == j]
            if len(members):
                centers[j] = members.mean(axis=0)
    return centers


def _fit_sample(spark: SparkSession, sf_dir: str) -> "np.ndarray":
    """Deterministic bounded training sample for every codebook fit:
    an md5-threshold hash-sample of the embeddings capped near
    PQ_FIT_CAP rows, collected to the driver SORTED BY vec_id — a fit
    artifact in the _exact_top discipline (bounded rows, never corpus
    data), cached per (app, sf). One count + one bounded collect; at
    100 TB the count is parquet-metadata cheap and the collect is
    ≤ PQ_FIT_CAP·DIM doubles regardless of corpus size."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _FIT_SAMPLE_CACHE:
        e = load(spark, sf_dir).embeddings.select(
            "vec_id", V.as_double(F.col("embedding")).alias("v")
        )
        n = e.count()
        if n > PQ_FIT_CAP:
            thresh = int(PQ_FIT_CAP / n * 4294967296.0)
            e = e.filter(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("pqfit|"), F.col("vec_id").cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                < F.lit(thresh)
            )
        rows = e.orderBy("vec_id").collect()
        # lower bound (ADVICE r13): the md5-threshold filter is
        # stochastic and `thresh` truncates toward 0 at extreme n, so
        # the sample can come back far smaller than intended — and
        # _lloyd_pp on a tiny/empty sample either crashes
        # (rng.randint(0)) or silently shrinks codebooks via
        # k=min(k,n). Floor at 16x the largest k any fit uses
        # (ADC_K=64 > PQ_K=16, IVF_NLIST=16); when the filtered sample
        # comes back below it, fall back to the unfiltered
        # deterministic bounded limit. The fallback only applies when
        # the primary collect was actually filtered (n > PQ_FIT_CAP);
        # below the cap the primary path already read the whole table,
        # so a re-collect could not produce more rows.
        floor = 16 * max(PQ_K, IVF_NLIST, ADC_K)
        if n > PQ_FIT_CAP and len(rows) < floor:
            e_all = load(spark, sf_dir).embeddings.select(
                "vec_id", V.as_double(F.col("embedding")).alias("v")
            )
            rows = e_all.orderBy("vec_id").limit(PQ_FIT_CAP).collect()
        if not rows:
            raise ValueError(
                "codebook fit: embeddings table is empty — cannot train"
            )
        _FIT_SAMPLE_CACHE[key] = np.array([r["v"] for r in rows], dtype=np.float64)
    return _FIT_SAMPLE_CACHE[key]


def _pq_codebooks(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    n_sub: int,
    subdim: int,
    k: int,
    base_seed: int = 42,
    residual_centers: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Fit (or fetch cached) per-subspace k-means codebooks over a
    deterministic hash-sample of the embeddings — or, when
    ``residual_centers`` is given, over the RESIDUALS
    x − C[argmin_cell(x)] against that coarse codebook (the FAISS
    IVF-PQ encoding: the quantizer codes what the cell centroid
    missed, which carries far less variance than the raw vector).

    r12 (VERDICT r11 #2): the fit is DRIVER-SIDE numpy Lloyd's on the
    bounded _fit_sample — FAISS's own train-on-a-sample discipline —
    replacing 25 per-subspace MLlib KMeans jobs per session (1 ivf +
    8 pq + 8 adc + 8 adcres, each a multi-iteration distributed job
    over a corpus that must never be scanned for fitting at 100 TB).
    Side effect: codebooks are now partitioning-INDEPENDENT (fixed
    sample order + seeded init), so every downstream recall/pruning
    pin is reproducible across cluster layouts.

    The cache key is (app, sf, tag, shape, seed) — ``tag`` MUST encode
    the input variant (raw "adc" vs residual "adcres"), because
    ``residual_centers`` itself is not part of the key."""
    key = (spark.sparkContext.applicationId, sf_dir, tag, n_sub, subdim, k, base_seed)
    if key in _CODEBOOK_CACHE:
        return _CODEBOOK_CACHE[key]
    x = _fit_sample(spark, sf_dir)
    if residual_centers is not None:
        c = np.asarray(residual_centers, dtype=np.float64)
        d = (
            (x**2).sum(axis=1)[:, None]
            + (c**2).sum(axis=1)[None, :]
            - 2.0 * (x @ c.T)
        )
        x = x - c[d.argmin(axis=1)]
    out = []
    for m in range(n_sub):
        sub = np.ascontiguousarray(x[:, m * subdim : (m + 1) * subdim])
        centers = _lloyd_pp(sub, k, seed=base_seed + m)
        out.append([[float(v) for v in row] for row in centers])
    _CODEBOOK_CACHE[key] = out
    return out


def _centers_lit(centers: list[list[float]]) -> Column:
    """k×d codebook as an array<array<double>> literal (broadcast-free:
    it ships inside the serialized plan, k·d doubles)."""
    return F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centers])


def _d2(a: Column, b: Column) -> Column:
    d = F.zip_with(a, b, lambda x, y: x - y)
    return V.dot(d, d)


def _argmin_center_best(sv: Column, centers: list[list[float]]) -> Column:
    """Nearest-center fold over the codebook literal, returning the
    guarded (d2, i) STRUCT — the squared L2 to the winner alongside
    its index — so callers needing both (embedding_pq_quantization's
    MSE) pay one fold instead of a code join back onto the codebook.
    Map-side, JVM expression evaluation, no MLlib transform and no row
    expansion: the corpus is coded in the same projection that scans
    it."""
    scored = F.transform(
        _centers_lit(centers),
        lambda c, i: F.struct(_d2(sv, c).alias("d2"), i.alias("i")),
    )
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(float("inf")).alias("d2"), F.lit(-1).cast("int").alias("i")
        ),
        lambda acc, s: F.when(s["d2"] < acc["d2"], s).otherwise(acc),
    )
    # NaN in any component makes every d2 NaN (NaN sorts above inf, so
    # the fold would return the initial i=-1 and a downstream
    # element_at(codebook, 0) would raise the opaque
    # INVALID_INDEX_OF_ZERO) — fail fast with a diagnosable message at
    # the first corrupt vector instead
    valid = F.assert_true(
        best["i"] >= 0, F.lit("_argmin_center: all distances NaN (corrupt vector?)")
    )
    return F.when(valid.isNull(), best)


def _argmin_center(sv: Column, centers: list[list[float]]) -> Column:
    """Index of the nearest center (squared L2) — see
    _argmin_center_best."""
    return _argmin_center_best(sv, centers)["i"]


def _np_argmin_rows(x: "np.ndarray", c: "np.ndarray") -> "np.ndarray":
    """Row-wise argmin over centers: ||x−c||² via the expanded form on
    an n×k matrix (no n×k×d blowup). First-index on ties — the same
    tie rule as _argmin_center's strict-< fold."""
    d = (x**2).sum(axis=1)[:, None] + (c**2).sum(axis=1)[None, :] - 2.0 * (x @ c.T)
    return d.argmin(axis=1)


def _pq_code_udf(cbs: list[list[list[float]]], subdim: int,
                 coarse: list[list[float]] | None = None):
    """Arrow-vectorized PQ coder (r12, VERDICT r11 #2): array<double>
    vector -> array<int> codes, computed batch-at-a-time in numpy with
    the codebooks captured in the closure. With ``coarse`` the output
    is [cell, code_0..code_{M-1}] coding the RESIDUAL x − C[cell]
    (IVF-PQ); without, [code_0..code_{M-1}] over the raw subspaces.

    Why a UDF where everything else is codegen expressions: the
    expression form (_argmin_center folds over _centers_lit literals)
    builds ~ M·k·subdim literal nodes — for the 8×64×8 ADC books that
    is a ~10k-node tree costing seconds of py4j construction and
    Catalyst/codegen PER QUERY BUILD, at any data size. The coder is
    still map-side and shuffle-free; Arrow batches keep it
    vectorized end to end (the sanctioned Pandas-UDF fallback)."""
    coarse_np = None if coarse is None else np.asarray(coarse, dtype=np.float64)
    cbs_np = [np.asarray(c, dtype=np.float64) for c in cbs]

    @F.pandas_udf("array<int>")
    def code(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(v.to_numpy())
        cols = []
        if coarse_np is not None:
            cell = _np_argmin_rows(x, coarse_np)
            x = x - coarse_np[cell]
            cols.append(cell.astype(np.int32))
        for m, cb in enumerate(cbs_np):
            sub = np.ascontiguousarray(x[:, m * subdim : (m + 1) * subdim])
            cols.append(_np_argmin_rows(sub, cb).astype(np.int32))
        packed = np.stack(cols, axis=1)
        return pd.Series(list(packed))

    # asNondeterministic (r14, guide §4.4): the coder IS deterministic,
    # but when element_at(codes, 1) becomes an equi-join key the
    # planner's pushed isnotnull(join key) filter re-evaluated the UDF
    # below the filter AND again in the projection — two ArrowEvalPython
    # corpus-coding passes for one call (ivf_pq_search executed plan,
    # nodes 3+6). Marking it non-deterministic forbids the duplication;
    # the null filter then runs once above the single coding pass.
    return code.asNondeterministic()


def _adc_dist_udf(cbs: list[list[list[float]]], subdim: int, code_offset: int = 0):
    """Arrow-vectorized asymmetric distance: (query_vec array<double>,
    codes array<int>) -> double, sum over subspaces of
    ||q_sub − codebook_m[code_m]||². ``code_offset`` skips a leading
    cell id in the codes array (the IVF-PQ packing)."""
    cbs_np = [np.asarray(c, dtype=np.float64) for c in cbs]

    @F.pandas_udf("double")
    def adc(qv: pd.Series, codes: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype=np.float64)
        q = np.stack(qv.to_numpy())
        c = np.stack(codes.to_numpy()).astype(np.int64)
        tot = np.zeros(len(q), dtype=np.float64)
        for m, cb in enumerate(cbs_np):
            sub = q[:, m * subdim : (m + 1) * subdim]
            diff = sub - cb[c[:, m + code_offset]]
            tot += (diff**2).sum(axis=1)
        return pd.Series(tot)

    return adc


@register(
    "embedding_pq_quantization",
    oracle=f"""
    SELECT m.subspace,
           {PQ_SUBDIM} AS dims_per_subspace,
           {PQ_K} AS codebook_size,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
           1 AS codes_in_range, 1 AS mse_leq_variance, 1 AS mse_nonneg
    FROM (SELECT unnest(range(0, {PQ_SUBSPACES})) AS subspace) m
    ORDER BY m.subspace
    """,
)
def embedding_pq_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the ANN compression tier above int8
    scalar quantization (embedding_quantization): the 64-d vector is
    split into {PQ_SUBSPACES} subspaces of {PQ_SUBDIM} dims, each
    k-means-coded with a {PQ_K}-entry codebook, so a vector stores as
    {PQ_SUBSPACES} bytes (64× cut vs float64) and asymmetric distances
    evaluate from {PQ_SUBSPACES} table lookups — the FAISS IVF-PQ
    memory layout.

    Exact-oracle-checked as a PROPERTY (seeded k-means centroids are
    partitioning-sensitive, so the codes aren't SQL-mirrorable): per
    subspace, every vector gets a code in [0, {PQ_K}), and the
    reconstruction MSE must not exceed the subspace variance — the
    k-means objective at k={PQ_K} can never lose to k=1, so a violated
    flag means the coding is broken, not just suboptimal.

    Scale shape (r14 — guide §2.4, remove redundant passes): codebooks
    train on the subspace slice (MLlib KMeans — sampled/sketched at
    real corpus scale; fit-once cached per session×sf via
    _pq_codebooks), assignment is a map-side argmin EXPRESSION over
    the codebook literal (no transform output to persist), and ALL
    {PQ_SUBSPACES} subspaces' stats come from TWO corpus passes: one
    1-row per-dimension mean aggregate (broadcast back), then one wide
    aggregate computing every subspace's count/MSE/variance/code-range
    columns at once — the per-subspace branch construction paid one
    mean pass + one stats pass per subspace (8 corpus scans in the
    plan; now 2). The winner's d2 comes from the same argmin fold that
    picks the code (_argmin_center_best), replacing the per-branch
    code→centroid join. Centroids stay driver-side tiny
    ({PQ_SUBSPACES}×{PQ_K}×{PQ_SUBDIM} floats). The output flags are
    integer properties, insensitive to double accumulation order, so
    the restructure cannot move them."""
    cb = _pq_codebooks(spark, sf_dir, "pq", PQ_SUBSPACES, PQ_SUBDIM, PQ_K)
    e = load(spark, sf_dir).embeddings.select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    # pass 1: per-dimension means — global aggregate (ONE row) — .agg,
    # not .select, so the broadcast below is provably bounded to the
    # taint lint
    mu = e.agg(
        F.array(
            *[F.avg(F.col("v")[i]) for i in range(PQ_SUBSPACES * PQ_SUBDIM)]
        ).alias("mu")
    )
    # pass 2: one wide aggregate over (corpus ⨯ broadcast means)
    aggs = [F.count(F.lit(1)).alias("n_vectors")]
    for m in range(PQ_SUBSPACES):
        sv = F.slice("v", m * PQ_SUBDIM + 1, PQ_SUBDIM)
        smu = F.slice("mu", m * PQ_SUBDIM + 1, PQ_SUBDIM)
        best = _argmin_center_best(sv, cb[m])
        var_term = V.dot(
            F.zip_with(sv, smu, lambda a, b: a - b),
            F.zip_with(sv, smu, lambda a, b: a - b),
        )
        aggs.append(F.avg(best["d2"]).alias(f"mse_{m}"))
        aggs.append(F.avg(var_term).alias(f"var_{m}"))
        aggs.append(
            F.sum(
                F.when(
                    (best["i"] >= 0) & (best["i"] < PQ_K), 0
                ).otherwise(1)
            ).alias(f"bad_{m}")
        )
    wide = e.crossJoin(F.broadcast(mu)).agg(*aggs)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(m).alias("subspace"),
                    F.lit(PQ_SUBDIM).alias("dims_per_subspace"),
                    F.lit(PQ_K).alias("codebook_size"),
                    F.col("n_vectors").cast("long").alias("n_vectors"),
                    (F.col(f"bad_{m}") == 0).cast("int").alias("codes_in_range"),
                    (F.col(f"mse_{m}") <= F.col(f"var_{m}") * 1.0000001)
                    .cast("int")
                    .alias("mse_leq_variance"),
                    (F.col(f"mse_{m}") >= 0).cast("int").alias("mse_nonneg"),
                )
                for m in range(PQ_SUBSPACES)
            ]
        )
    ).alias("s")
    return (
        wide.select(rows)
        .select("s.*")
        .orderBy("subspace")
    )


ADC_M = 8          # finer subspaces than the stats query: 8-d sub-vectors
ADC_SUBDIM = DIM // ADC_M
ADC_REFINE = 50    # exact-re-rank shortlist size (the FAISS refine stage)
ADC_K = 64         # larger codebooks — measured recall@5 0.32/0.36 at
                   # sf0.001/sf0.01 vs 0.16/0.12 for the 4x16 config


@register(
    "pq_adc_search",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           5 AS k, 1 AS five_neighbors_per_query, 1 AS no_self_matches,
           1 AS recall_at_least_0_2
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-5 search over PQ codes — what
    byte-coded compression exists FOR: the query stays full precision,
    each corpus vector is its ADC_M=8 codes, and the distance is the
    sum of per-subspace query→centroid distances — at serving scale a
    table lookup per subspace, never a vector op per corpus element.
    (This search tier uses finer 8×64 codebooks than the 4×16 stats
    query embedding_pq_quantization: measured recall@5 0.32/0.36 at
    sf0.001/sf0.01 vs 0.16/0.12 for 4×16.)

    Serving shape (r12): ADC ranks a SHORTLIST of {ADC_REFINE}
    candidates per query, then an exact-L2 re-rank of that bounded
    shortlist emits the top-5 — the FAISS refine stage, added after
    the off-gate sf0.1 sweep showed pure-ADC top-5 recall degrading as
    the corpus densifies (code distance can't separate dense
    neighborhoods; every production PQ server re-ranks).

    Exact-oracle-checked as a PROPERTY (codebooks are seeded k-means —
    not SQL-mirrorable): 5 neighbors per query, no self-matches, and
    recall@5 vs the EXACT L2 top-5 (computed in-engine on the same
    corpus) at least 0.2 — the refine stage holds this with margin at
    every test SF, so the flag fails only if coding or refinement
    breaks, not on k-means jitter; ann_lsh_recall_exact is the
    fully-SQL-checked recall yardstick for the LSH tier.

    Scale shape: codes build map-side (ONE projection computes all
    ADC_M argmin codes in the scan that reads the corpus — fit-once
    cached codebooks via _pq_codebooks, no persisted transform
    output); the ADC join is query×ADC_K lookup tables (broadcast,
    ADC_M·ADC_K rows per query); the exact yardstick is the
    brute-force tier and exists here only to measure recall."""
    cb = _pq_codebooks(spark, sf_dir, "adc", ADC_M, ADC_SUBDIM, ADC_K)
    e = load(spark, sf_dir).embeddings.select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    # ONE map-side Arrow-vectorized projection codes every subspace
    # (_pq_code_udf — see there for why not an expression fold), then
    # a posexplode to (vec_id, m, code) rows for the broadcast LUT join
    codes = e.select(
        "vec_id",
        F.posexplode(_pq_code_udf(cb, ADC_SUBDIM)(F.col("v"))).alias(
            "m", "code"
        ),
    )
    # per-(query, subspace, code) ADC lookup tables
    # ONE pass over the query rows explodes all ADC_M subspace slices
    # (r10: the previous per-subspace loop unioned 8 branches that each
    # re-scanned the query filter — 8 pushed-down scans where 1 does),
    # then one broadcast join against the stacked codebook table builds
    # the whole (query, subspace, code) LUT.
    centers_all = local_frame(
        spark,
        [(m, i, c) for m in range(ADC_M) for i, c in enumerate(cb[m])],
        "m int, code int, center array<double>",
    )
    qsubs = q.select(
        "q_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("qv", m * ADC_SUBDIM + 1, ADC_SUBDIM).alias("qs"),
                    )
                    for m in range(ADC_M)
                ]
            )
        ).alias("p"),
    ).select("q_id", F.col("p.m").alias("m"), F.col("p.qs").alias("qs"))
    d2 = V.dot(
        F.zip_with("qs", "center", lambda a, b: a - b),
        F.zip_with("qs", "center", lambda a, b: a - b),
    )
    lut = qsubs.join(F.broadcast(centers_all), "m").select(
        "q_id", "m", "code", d2.alias("d2")
    )
    wa = W.partitionBy("q_id").orderBy(F.col("adc"), F.col("neighbor_id"))
    shortlist = (
        # broadcast-ok: lut is bounded by N_QUERIES*ADC_M*ADC_K rows
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc"))
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= ADC_REFINE)
        .select("q_id", "neighbor_id")
    )
    # exact re-rank of the ADC shortlist (the FAISS refine stage, r12):
    # pure-ADC top-5 recall degrades as the corpus densifies (flag went
    # 0 at sf0.1 in the off-gate sweep) — production PQ serving always
    # re-ranks a code-distance shortlist with exact distances. The
    # shortlist is bounded (N_QUERIES*ADC_REFINE rows, broadcast), so
    # the refine join touches raw vectors for <=250 rows, never the
    # corpus.
    qv2 = q.select(F.col("q_id").alias("rq_id"), F.col("qv").alias("rqv"))
    refine_l2 = V.dot(
        F.zip_with("rqv", "v", lambda x, y: x - y),
        F.zip_with("rqv", "v", lambda x, y: x - y),
    )
    wr = W.partitionBy("q_id").orderBy(F.col("l2"), F.col("neighbor_id"))
    adc_top = (
        e.join(
            # broadcast-ok: shortlist is bounded by N_QUERIES*ADC_REFINE rows
            F.broadcast(shortlist), F.col("vec_id") == F.col("neighbor_id")
        )
        # broadcast-ok: qv2 is bounded by N_QUERIES (literal id filter)
        .join(F.broadcast(qv2), F.col("q_id") == F.col("rq_id"))
        .select("q_id", "neighbor_id", refine_l2.alias("l2"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
    )
    # exact L2 top-5 yardstick: the session-cached fit-once literal
    # frame (VERDICT r9 #7) — no per-query brute-force scan
    exact_top = _exact_top(spark, sf_dir, "l2").select("q_id", "neighbor_id")
    hits = adc_top.join(exact_top, ["q_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    per_q = adc_top.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("k_found"),
        F.sum((F.col("neighbor_id") == F.col("q_id")).cast("int")).alias("selfs"),
    )
    return (
        per_q.agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.min("k_found").alias("min_k"),
            F.sum("selfs").alias("n_selfs"),
        )
        .crossJoin(F.broadcast(hits))
        .select(
            F.col("n_queries").cast("long").alias("n_queries"),
            F.lit(5).alias("k"),
            (F.col("min_k") == 5).cast("int").alias("five_neighbors_per_query"),
            (F.col("n_selfs") == 0).cast("int").alias("no_self_matches"),
            (F.col("n_hits") >= F.lit(0.2 * 5 * N_QUERIES)).cast("int").alias(
                "recall_at_least_0_2"
            ),
        )
    )


@register(
    "ivf_pq_search",
    headline=True,
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           {IVF_NLIST} AS nlist, {IVF_NPROBE} AS nprobe,
           {ADC_M} AS pq_m, {ADC_K} AS pq_k, 5 AS k,
           1 AS five_neighbors_per_query, 1 AS no_self_matches,
           1 AS candidates_pruned, 1 AS recall_at_least_0_1
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving-shape search — the composition VERDICT r8 asked
    for: ann_ivf_kmeans's coarse cell pruning feeding asymmetric-
    distance PQ codes, so the ADC stage touches ONLY the probed cells'
    codes instead of the whole corpus. The PQ codes the RESIDUAL
    x − C[cell(x)] against the coarse centroid (the actual FAISS
    IVF-PQ encoding): the residual carries far less variance than the
    raw vector, which lifts measured recall@5 from 0.16/0.32
    (flat-vector coding) to 0.24/0.36 at sf0.001/0.01.

    Plan shape: ONE map-side Arrow-vectorized projection codes the
    corpus (coarse cell + residual + all {ADC_M} PQ codes per numpy
    batch — _pq_code_udf; r12 swapped the codebook-literal expression
    folds for this after measuring the ~10k-node literal trees cost
    seconds of py4j construction + Catalyst/codegen per build at ANY
    data size). Zero shuffles so far. Queries probe their
    {IVF_NPROBE} nearest cells; the probe table
    (q_id, probe_cell, query-residual-vs-that-cell) broadcasts onto
    the coded corpus as a cell equi-join, so candidate volume is the
    probed cells' share of the corpus, not N_QUERIES×corpus. ADC
    distance is then one vectorized batch kernel per surviving row
    (_adc_dist_udf) between the query's PER-CELL residual and the
    coded centroids. At 100 TB the corpus never shuffles: route
    map-side, score map-side, one final per-query top-5; the fit
    itself trains on the bounded _fit_sample, never the corpus.

    Exact-oracle-checked as a PROPERTY (seeded k-means codebooks are
    partitioning-sensitive, so neighbor identities aren't
    SQL-mirrorable): 5 neighbors per query, no self-matches (held by
    construction — the candidate join excludes vec_id == q_id — so
    the flag pins the output contract, not an independent check),
    candidates strictly fewer than the unpruned query×corpus volume
    (the pruning proof — measured candidate fraction 0.29/0.35 of
    query×corpus at sf0.001/0.01), and recall@5 vs the EXACT
    in-engine L2 top-5 ≥ 0.1; the pin needs 3 of 25 hits — three
    below the sf0.001 measurement, six below sf0.01's — so it trips
    only if routing or coding breaks."""
    coarse = _pq_codebooks(spark, sf_dir, "ivf", 1, DIM, IVF_NLIST)[0]
    cb = _pq_codebooks(
        spark, sf_dir, "adcres", ADC_M, ADC_SUBDIM, ADC_K,
        residual_centers=coarse,
    )
    e = load(spark, sf_dir).embeddings.select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    # ONE map-side Arrow-vectorized projection codes the corpus: coarse
    # routing cell + all ADC_M residual PQ codes per batch (see
    # _pq_code_udf for why this is a UDF, not an expression fold)
    coded = e.select(
        "vec_id",
        _pq_code_udf(cb, ADC_SUBDIM, coarse=coarse)(F.col("v")).alias("codes"),
    ).select(
        "vec_id", F.element_at("codes", 1).alias("cell"), "codes"
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    centers = local_frame(
        spark,
        [(i, c) for i, c in enumerate(coarse)],
        "center_cell int, center array<double>",
    )
    cdist2 = V.dot(
        F.zip_with("qv", "center", lambda a, b: a - b),
        F.zip_with("qv", "center", lambda a, b: a - b),
    )
    wprobe = W.partitionBy("q_id").orderBy(F.col("cd2"), F.col("center_cell"))
    probes = (
        q.crossJoin(F.broadcast(centers))
        .withColumn("cd2", cdist2)
        .withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= IVF_NPROBE)
        .select(
            "q_id",
            "qv",
            F.col("center_cell").alias("probe_cell"),
            # the query's residual AGAINST THE PROBED CELL — ADC then
            # compares residual to residual-codebook centroid
            F.zip_with("qv", "center", lambda a, b: a - b).alias("qr"),
        )
    )
    # ADC over ONLY the probed cells: vectorized sum over subspaces of
    # ||q_residual_sub - residual_codebook[code]||² (Arrow batches)
    adc = _adc_dist_udf(cb, ADC_SUBDIM, code_offset=1)(
        F.col("qr"), F.col("codes")
    )
    wa = W.partitionBy("q_id").orderBy(F.col("adc"), F.col("neighbor_id"))
    cand = coded.join(
        F.broadcast(probes),  # broadcast-ok: bounded by N_QUERIES*ADC_NPROBE rows
        (F.col("cell") == F.col("probe_cell")) & (F.col("vec_id") != F.col("q_id")),
    )
    # per-query candidate count rides the SAME window exchange as the
    # top-5 rank (a partition-only count window): the former separate
    # count branch re-ran the whole corpus-coding ArrowEval pass (r13
    # measured: 2 coding passes -> 1). Cost accepted: the count needs
    # every candidate row across the exchange, so the rank's
    # WindowGroupLimit map-side prune is forfeited — bounded by
    # N_QUERIES * probe-fraction of the corpus in tiny
    # (q_id, neighbor_id, adc) rows, far cheaper than recoding the
    # corpus at any scale.
    adc_top = (
        cand.withColumn("adc", adc)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "adc")
        .withColumn("rn", F.row_number().over(wa))
        .withColumn("cnt_q", F.count(F.lit(1)).over(W.partitionBy("q_id")))
        .filter(F.col("rn") <= 5)
    )
    # (the former cand.groupBy().count() branch is gone — its
    # n_candidates total is now sum(first(cnt_q)) in the final fold)
    # exact L2 yardstick: session-cached fit-once literal frame. The
    # recall hit-flag joins onto the top-5 rows BEFORE the per-query
    # fold (broadcast left join on a bounded literal) so the audit
    # columns (k_found, selfs, candidate count, hits) all come from ONE
    # pipeline — a separate hits branch re-ran the corpus-coding
    # ArrowEval pass because its pruned window subtree no longer
    # matched for AQE exchange reuse (r13 measured).
    exact_top = _exact_top(spark, sf_dir, "l2").select(
        "q_id", "neighbor_id", F.lit(1).alias("is_hit")
    )
    n_corpus = e.agg(F.count(F.lit(1)).alias("n_corpus"))
    per_q = (
        adc_top.join(F.broadcast(exact_top), ["q_id", "neighbor_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("k_found"),
            F.sum((F.col("neighbor_id") == F.col("q_id")).cast("int")).alias("selfs"),
            # cnt_q is constant per q_id (the pre-top-5 candidate count
            # computed in the window stage above)
            F.first("cnt_q").alias("cnt_q"),
            F.sum(F.coalesce(F.col("is_hit"), F.lit(0))).alias("hits_q"),
        )
    )
    return (
        per_q.agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.min("k_found").alias("min_k"),
            F.sum("selfs").alias("n_selfs"),
            F.sum("cnt_q").alias("n_candidates"),
            F.sum("hits_q").alias("n_hits"),
        )
        .crossJoin(F.broadcast(n_corpus))
        .select(
            F.col("n_queries").cast("long").alias("n_queries"),
            F.lit(IVF_NLIST).cast("int").alias("nlist"),
            F.lit(IVF_NPROBE).cast("int").alias("nprobe"),
            F.lit(ADC_M).cast("int").alias("pq_m"),
            F.lit(ADC_K).cast("int").alias("pq_k"),
            F.lit(5).cast("int").alias("k"),
            (F.col("min_k") == 5).cast("int").alias("five_neighbors_per_query"),
            (F.col("n_selfs") == 0).cast("int").alias("no_self_matches"),
            (
                F.col("n_candidates")
                < F.col("n_queries") * (F.col("n_corpus") - 1)
            ).cast("int").alias("candidates_pruned"),
            (F.col("n_hits") >= F.lit(0.1 * 5 * N_QUERIES)).cast("int").alias(
                "recall_at_least_0_1"
            ),
        )
    )


IVF_CURVE_PROBES = (1, 2, 4, 8, 16)


@register(
    "ivf_nprobe_recall_curve",
    oracle=f"""
    SELECT p.nprobe, {IVF_NLIST} AS nlist, 5 AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings
            WHERE vec_id < {N_QUERIES}
              AND list_inner_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0) AS n_queries,
           1 AS recall_ge_prev, 1 AS recall_ge_floor
    FROM (SELECT unnest([{", ".join(str(p) for p in IVF_CURVE_PROBES)}])
          AS nprobe) p
    ORDER BY p.nprobe
    """,
)
def ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@5 vs exact brute force as nprobe
    sweeps 1→nlist — the accuracy/cost dial every IVF deployment sets
    (probing p of {IVF_NLIST} cells scans ~p/{IVF_NLIST} of the
    corpus). The LSH tier's twin is lsh_banding_recall_curve.

    Exact-oracle-checked as PROPERTIES with two provable pins per row
    (recall itself is k-means-model-dependent, so its value isn't
    SQL-mirrorable):

    * ``recall_ge_prev`` — monotone non-decreasing in nprobe. Provable:
      probe lists for smaller nprobe are prefixes of larger ones (same
      distance ordering, same tie-break), so candidate sets are NESTED,
      and any exact-top-5 member inside a candidate set always enters
      the IVF top-5 (it outranks every other candidate by cosine) —
      recall = |exact∩candidates|/5 can only grow.
    * ``recall_ge_floor`` — 0.3 at nprobe={IVF_NPROBE} (the
      ann_ivf_kmeans pin) and EXACTLY 1.0 at nprobe=nlist: probing
      every cell makes the candidate set the whole corpus, so IVF
      degenerates to exact search by construction. A failed floor at
      nprobe=16 is a routing bug, full stop.

    Scale shape (r13 single-pass rewrite): the five sweeps' candidate
    sets are NESTED (probe lists for smaller nprobe are prefixes of
    larger ones), so ONE corpus cell-assignment pass joined at ALL
    nlist cells — each candidate row carrying pr, the probe rank of
    the neighbor's cell for that query — serves every sweep: a row is
    in the probe-p top-5 iff pr <= p and its RUNNING count of
    pr <= p rows (in the shared total order cos desc, neighbor_id) is
    <= 5 — exactly row_number over the pr <= p subset. The five
    running counts are five sums over ONE window spec, so Spark plans
    one exchange + one Window operator where the old form ran five
    full Arrow assignment passes + five joins + five windows.
    Honest cost note: the old nprobe=nlist sweep already MATERIALIZED
    the full N_QUERIES x corpus candidate set map-side (its
    WindowGroupLimit pruned it before the exchange); the rewrite
    shuffles those narrow (q_id, neighbor_id, cos, pr, is_hit) rows
    once instead of recoding the corpus four more times. The exact
    yardstick stays the session-cached fit-once literal frame, now
    joined ONCE as a broadcast hit-flag before the window."""
    exact = _exact_top(spark, sf_dir).filter(F.col("rn") <= 5).select(
        "q_id", "neighbor_id", F.lit(1).alias("is_hit")
    )
    # denominator from the yardstick itself, NOT the 5*N_QUERIES
    # constant: zero-norm query rows are excluded from the cosine tier
    # (see _ORACLE_E), so the literal frame can hold fewer than
    # N_QUERIES query groups; a stale constant would deflate recall
    # and trip the nprobe=nlist floor. `exact` is a bounded literal
    # frame — counting it is driver-cheap.
    n_exact_total = exact.count()
    floors = {1: 0.0, 2: 0.0, 4: 0.3, 8: 0.3, IVF_NLIST: 1.0}
    cand = _ivf_candidates_all_cells(spark, sf_dir).join(
        F.broadcast(exact), ["q_id", "neighbor_id"], "left"
    )
    worder = W.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    in_p = {
        p: F.sum((F.col("pr") <= p).cast("int")).over(worder)
        for p in IVF_CURVE_PROBES
    }
    flagged = cand.select(
        "pr",
        F.coalesce(F.col("is_hit"), F.lit(0)).alias("is_hit"),
        *[in_p[p].alias(f"c{p}") for p in IVF_CURVE_PROBES],
    )
    hit_cols = [
        F.sum(
            (
                (F.col("pr") <= p) & (F.col(f"c{p}") <= 5)
                & (F.col("is_hit") == 1)
            ).cast("int")
        ).alias(f"h{p}")
        for p in IVF_CURVE_PROBES
    ]
    one = flagged.agg(*hit_cols)
    curve = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).cast("int").alias("nprobe"),
                        (F.col(f"h{p}") / F.lit(n_exact_total)).alias(
                            "recall"
                        ),
                    )
                    for p in IVF_CURVE_PROBES
                ]
            )
        ).alias("s")
    ).select("s.nprobe", "s.recall")
    wprev = W.orderBy("nprobe")
    nq = (
        load(spark, sf_dir)
        .embeddings.filter(F.col("vec_id") < N_QUERIES)
        .filter(
            V.dot(
                V.as_double(F.col("embedding")), V.as_double(F.col("embedding"))
            )
            > 0
        )
        .agg(F.count(F.lit(1)).alias("n_queries"))
    )
    floor_col = F.create_map(
        *[F.lit(x) for kv in floors.items() for x in kv]
    )[F.col("nprobe")]
    return (
        curve.withColumn(
            "prev_recall", F.lag("recall", 1, 0.0).over(wprev)
        )
        .crossJoin(F.broadcast(nq))
        .select(
            "nprobe",
            F.lit(IVF_NLIST).cast("int").alias("nlist"),
            F.lit(5).cast("int").alias("k"),
            F.col("n_queries").cast("long").alias("n_queries"),
            (F.col("recall") >= F.col("prev_recall")).cast("int").alias(
                "recall_ge_prev"
            ),
            (F.col("recall") >= floor_col).cast("int").alias("recall_ge_floor"),
        )
        .orderBy("nprobe")
    )


# ---------------------------------------------------------------------------
# Matryoshka (truncated-prefix) retrieval audit
# ---------------------------------------------------------------------------

_MRL_DIMS = [8, 16, 32, DIM]
MRL_K = 5


@register(
    "embedding_matryoshka_audit",
    oracle=f"""
    WITH {_ORACLE_E},
    dims AS (SELECT unnest([{", ".join(str(d) for d in _MRL_DIMS)}]) AS d),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT dims.d, q.q_id, e.vec_id AS neighbor_id,
             list_inner_product(q.qv[1:dims.d], e.v[1:dims.d]) /
             (sqrt(list_inner_product(q.qv[1:dims.d], q.qv[1:dims.d])) *
              sqrt(list_inner_product(e.v[1:dims.d], e.v[1:dims.d]))) AS cos
      FROM q CROSS JOIN dims JOIN e ON e.vec_id <> q.q_id
    ),
    topk AS (
      SELECT d, q_id, neighbor_id FROM (
        SELECT d, q_id, neighbor_id,
               row_number() OVER (PARTITION BY d, q_id
                                  ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored) t
      WHERE rn <= {MRL_K}
    ),
    exact AS (SELECT q_id, neighbor_id FROM topk WHERE d = {DIM})
    SELECT t.d AS trunc_dim, t.q_id,
           CAST(count(x.neighbor_id) AS BIGINT) AS hits,
           round(count(x.neighbor_id) / {MRL_K}.0, 6) AS recall
    FROM topk t LEFT JOIN exact x
      ON x.q_id = t.q_id AND x.neighbor_id = t.neighbor_id
    GROUP BY t.d, t.q_id
    ORDER BY trunc_dim, t.q_id
    """,
)
def embedding_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka retrieval audit: recall@5 of top-5-by-PREFIX-cosine
    (first d dims, d in 8/16/32/64) against the full-dim exact top-5,
    per query — the measurement behind Matryoshka Representation
    Learning serving (Kusupati et al. 2022): score with a cheap prefix
    first, rerank the shortlist with full vectors only if the audited
    recall supports it.

    Scale shape: the (query x trunc_dim) side is tiny (N_QUERIES x 4
    rows) and BROADCAST, so the corpus is scanned once, never shuffled,
    and every prefix cosine is a map-side slice + double fold; the
    top-5 window runs on q_id-partitioned slivers. At 100 TB this is
    the same never-shuffle-the-corpus shape as knn_brute_force. The
    d=64 partition IS the exact reference, so its recall is 1.0 by
    construction (test-pinned); prefix dots fold left-to-right in
    double to match DuckDB's list_inner_product over list slices.
    """
    e = _corpus(spark, sf_dir)
    q = (
        e.filter(F.col("id") < N_QUERIES)
        .select(F.col("id").alias("q_id"), F.col("v").alias("qv"))
        .withColumn("d", F.explode(F.array(*[F.lit(d) for d in _MRL_DIMS])))
    )
    qv_d = F.slice(F.col("qv"), F.lit(1), F.col("d"))
    v_d = F.slice(F.col("v"), F.lit(1), F.col("d"))
    # a nonzero full vector can still have an all-zero PREFIX at a
    # truncated dim; DuckDB yields NULL for the 0/0 cosine while Spark
    # ANSI would throw — emit the same NULL (NULLS LAST in the desc
    # rank on both engines, so such pairs simply never make top-k)
    denom = V.norm(qv_d) * V.norm(v_d)
    cos = F.when(denom > 0, V.dot(qv_d, v_d) / denom)
    w = W.partitionBy("d", "q_id").orderBy(F.col("cos").desc(), "neighbor_id")
    topk = (
        e.join(F.broadcast(q), F.col("id") != F.col("q_id"))
        .select(
            "d",
            "q_id",
            F.col("id").alias("neighbor_id"),
            cos.alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MRL_K)
        .select("d", "q_id", "neighbor_id")
        # 4 dims x N_QUERIES x 5 rows; read twice (exact branch + join)
        .localCheckpoint(eager=True)
    )
    exact = topk.filter(F.col("d") == DIM).select(
        F.col("q_id").alias("x_qid"), F.col("neighbor_id").alias("x_nid")
    )
    return (
        topk.join(
            F.broadcast(exact),
            (F.col("q_id") == F.col("x_qid"))
            & (F.col("neighbor_id") == F.col("x_nid")),
            "left",
        )
        .groupBy(F.col("d").alias("trunc_dim"), "q_id")
        .agg(F.count("x_nid").cast("long").alias("hits"))
        .withColumn("recall", F.round(F.col("hits") / F.lit(float(MRL_K)), 6))
        .orderBy("trunc_dim", "q_id")
    )


# Integer micro-unit DCG position discounts round(1e6 / log2(r+1)) for
# ranks 1..5, and their sum (the ideal DCG@5 when all 5 retrieved are
# relevant). Baked as identical integer literals in both engines so the
# whole nDCG measurement is exact integer arithmetic at runtime.
_NDCG_DISC_MICRO = [1000000, 630930, 500000, 430677, 386853]
_NDCG_IDEAL_MICRO = sum(_NDCG_DISC_MICRO)


@register(
    "ndcg_retrieval_eval",
    oracle=f"""
    WITH {_ORACLE_E},
    b AS (SELECT vec_id, v, {_sql_bucket('v')} AS bucket FROM e),
    q0 AS (SELECT vec_id AS q_id, v AS qv, bucket AS qbucket FROM b
           WHERE vec_id < {N_QUERIES}),
    exact AS (
      SELECT q_id, neighbor_id FROM (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {_ORACLE_COS} DESC, e.vec_id) AS rn
        FROM (SELECT q_id, qv FROM q0) q JOIN e ON e.vec_id <> q.q_id
      ) t WHERE rn <= 5
    ),
    q AS (SELECT q_id, qv, xor(qbucket, m.mask) AS probe
          FROM q0, (SELECT unnest([{", ".join(str(m) for m in [0] + [1 << i for i in range(N_PLANES)])}]) AS mask) m),
    lsh AS (
      SELECT q_id, neighbor_id, rn FROM (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {_ORACLE_COS} DESC, e.vec_id) AS rn
        FROM q JOIN b e ON e.bucket = q.probe AND e.vec_id <> q.q_id
      ) t WHERE rn <= 5
    )
    SELECT l.q_id,
           CAST(count(*) AS BIGINT) AS n_retrieved,
           CAST(sum(CASE WHEN x.neighbor_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_relevant,
           CAST(sum(CASE WHEN x.neighbor_id IS NULL THEN 0
                         ELSE [{", ".join(str(d) for d in _NDCG_DISC_MICRO)}][l.rn]
                    END) AS BIGINT) AS dcg_micro,
           round(sum(CASE WHEN x.neighbor_id IS NULL THEN 0
                          ELSE [{", ".join(str(d) for d in _NDCG_DISC_MICRO)}][l.rn]
                     END) / {_NDCG_IDEAL_MICRO}.0, 6) AS ndcg
    FROM lsh l LEFT JOIN exact x
      ON x.q_id = l.q_id AND x.neighbor_id = l.neighbor_id
    GROUP BY l.q_id
    ORDER BY l.q_id
    """,
)
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@5 of the hyperplane-LSH ANN ranking against the exact
    top-5 (binary relevance) — the position-weighted companion to
    ann_lsh_recall_exact: recall says WHETHER the true neighbors were
    retrieved, nDCG says whether they were retrieved EARLY, which is
    what a reranking budget downstream actually pays for.

    The log2 position discounts are pre-quantized to integer micro
    units (round(1e6/log2(r+1)), identical literals both engines), so
    DCG is an exact BIGINT sum — no runtime transcendentals, no
    accumulation-order hazard — and nDCG is one double division by the
    constant ideal DCG. Both rankings reuse the production builders;
    the join is two (n_queries x 5) broadcast-sized lists."""
    exact = _exact_top(spark, sf_dir).filter(F.col("rn") <= 5).select(
        F.col("q_id").alias("x_qid"), F.col("neighbor_id").alias("x_nid")
    )
    lsh = ann_lsh_hyperplane(spark, sf_dir).select("q_id", "neighbor_id", "rn")
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _NDCG_DISC_MICRO]), F.col("rn")
    )
    rel = F.when(F.col("x_nid").isNull(), 0).otherwise(1)
    return (
        lsh.join(
            F.broadcast(exact),
            (F.col("q_id") == F.col("x_qid"))
            & (F.col("neighbor_id") == F.col("x_nid")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_retrieved"),
            F.sum(rel).cast("long").alias("n_relevant"),
            F.sum(rel * disc).cast("long").alias("dcg_micro"),
            F.round(
                F.sum(rel * disc) / F.lit(float(_NDCG_IDEAL_MICRO)), 6
            ).alias("ndcg"),
        )
        .orderBy("q_id")
    )


# MMR diversification: greedy maximal-marginal-relevance reranking of
# the exact top-N candidate pool, unrolled for MMR_K picks. Lambda is
# a dyadic rational (0.75 = 3/4) so the score combination is exact in
# binary on both engines.
MMR_K = 5
MMR_POOL = 10
MMR_LAMBDA = 0.75


def _mmr_oracle(cand_cte: str | None = None) -> str:
    """Unroll the greedy MMR picks as chained CTEs: pick r+1 scores
    every remaining candidate as λ·rel − (1−λ)·max-sim-to-selected and
    takes the row_number-1 argmax (tie-break: neighbor_id). ``cand_cte``
    overrides the candidate-pool CTE body (must yield q_id,
    neighbor_id, rel, v; rel pre-rounded where the producer rounds) —
    default: the exact top-MMR_POOL cosine pool."""
    steps = []
    for i in range(1, MMR_K):
        prev = " UNION ALL ".join(f"SELECT * FROM s{j}" for j in range(1, i + 1))
        steps.append(
            f"""s{i + 1} AS (
      SELECT q_id, neighbor_id, {i + 1} AS pick_rank, rel, mmr FROM (
        SELECT c.q_id, c.neighbor_id, c.rel,
               {MMR_LAMBDA!r} * c.rel - {1 - MMR_LAMBDA!r} * max(p.sim) AS mmr,
               row_number() OVER (
                 PARTITION BY c.q_id
                 ORDER BY {MMR_LAMBDA!r} * c.rel
                          - {1 - MMR_LAMBDA!r} * max(p.sim) DESC,
                          c.neighbor_id) AS rn
        FROM cand c
        JOIN ({prev}) s ON s.q_id = c.q_id
        JOIN pairs p ON p.q_id = c.q_id AND p.id_a = c.neighbor_id
                    AND p.id_b = s.neighbor_id
        WHERE c.neighbor_id NOT IN
              (SELECT neighbor_id FROM ({prev}) x WHERE x.q_id = c.q_id)
        GROUP BY c.q_id, c.neighbor_id, c.rel
      ) t WHERE rn = 1
    )"""
        )
    unrolled = ",\n    ".join(steps)
    picks = " UNION ALL ".join(f"SELECT * FROM s{j}" for j in range(1, MMR_K + 1))
    _cand_body = cand_cte if cand_cte is not None else f"""      SELECT q_id, neighbor_id, rel, v FROM (
        SELECT q.q_id, e.vec_id AS neighbor_id, e.v,
               {_ORACLE_COS} AS rel,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {_ORACLE_COS} DESC, e.vec_id) AS rn
        FROM q JOIN e ON e.vec_id <> q.q_id
      ) t WHERE rn <= {MMR_POOL}"""
    return f"""
    WITH {_ORACLE_E},
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    cand AS MATERIALIZED (
{_cand_body}
    ),
    pairs AS MATERIALIZED (
      SELECT a.q_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
             list_inner_product(a.v, b.v) /
             (sqrt(list_inner_product(a.v, a.v)) *
              sqrt(list_inner_product(b.v, b.v))) AS sim
      FROM cand a JOIN cand b
        ON b.q_id = a.q_id AND b.neighbor_id <> a.neighbor_id
    ),
    s1 AS (
      SELECT q_id, neighbor_id, 1 AS pick_rank, rel,
             {MMR_LAMBDA!r} * rel AS mmr
      FROM (SELECT q_id, neighbor_id, rel,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY rel DESC, neighbor_id) AS rn
            FROM cand) t
      WHERE rn = 1
    ),
    {unrolled}
    SELECT q_id, pick_rank, neighbor_id,
           round(rel, 6) AS relevance, round(mmr, 6) AS mmr_score
    FROM ({picks}) ORDER BY q_id, pick_rank
    """



def _mmr_greedy(cand: DataFrame) -> DataFrame:
    """Greedy MMR over a bounded candidate pool (q_id, neighbor_id, v,
    rel): MMR_K picks, λ=MMR_LAMBDA, row_number argmax with neighbor_id
    tie-break each round — the engine-portable trajectory the oracle
    unrolls as CTEs. The pool must be localCheckpoint-ed by the caller
    (it feeds the pair table and every greedy round)."""
    a = cand.select("q_id", F.col("neighbor_id").alias("id_a"), F.col("v").alias("va"))
    b = cand.select(
        F.col("q_id").alias("q2"), F.col("neighbor_id").alias("id_b"), F.col("v").alias("vb")
    )
    sim = V.dot(F.col("va"), F.col("vb")) / (
        V.norm(F.col("va")) * V.norm(F.col("vb"))
    )
    pairs = (
        a.join(b, (F.col("q2") == F.col("q_id")) & (F.col("id_b") != F.col("id_a")))
        .select("q_id", "id_a", "id_b", sim.alias("sim"))
        .localCheckpoint(eager=True)
    )
    w1 = W.partitionBy("q_id").orderBy(F.col("rel").desc(), "neighbor_id")
    selected = (
        cand.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "q_id",
            "neighbor_id",
            F.lit(1).alias("pick_rank"),
            "rel",
            (F.lit(MMR_LAMBDA) * F.col("rel")).alias("mmr"),
        )
    )
    for i in range(1, MMR_K):
        sel_ids = selected.select(
            F.col("q_id").alias("sq"), F.col("neighbor_id").alias("sid")
        )
        remaining = cand.join(
            sel_ids,
            (F.col("q_id") == F.col("sq"))
            & (F.col("neighbor_id") == F.col("sid")),
            "left_anti",
        )
        scored = (
            remaining.join(
                pairs.withColumnRenamed("id_a", "neighbor_id"),
                ["q_id", "neighbor_id"],
            )
            .join(
                sel_ids,
                (F.col("q_id") == F.col("sq")) & (F.col("id_b") == F.col("sid")),
            )
            .groupBy("q_id", "neighbor_id", "rel")
            .agg(F.max("sim").alias("max_sim"))
            .select(
                "q_id",
                "neighbor_id",
                "rel",
                (
                    F.lit(MMR_LAMBDA) * F.col("rel")
                    - F.lit(1 - MMR_LAMBDA) * F.col("max_sim")
                ).alias("mmr"),
            )
        )
        wpick = W.partitionBy("q_id").orderBy(F.col("mmr").desc(), "neighbor_id")
        pick = (
            scored.withColumn("rn", F.row_number().over(wpick))
            .filter(F.col("rn") == 1)
            .select(
                "q_id",
                "neighbor_id",
                F.lit(i + 1).alias("pick_rank"),
                "rel",
                "mmr",
            )
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected.select(
        "q_id",
        "pick_rank",
        "neighbor_id",
        F.round("rel", 6).alias("relevance"),
        F.round("mmr", 6).alias("mmr_score"),
    ).orderBy("q_id", "pick_rank")


@register("mmr_diversified_topk", oracle=_mmr_oracle())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance reranking (Carbonell & Goldstein
    1998): greedily pick 5 of the exact top-10 candidates per query,
    each pick maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    picked — the standard result-diversification pass between ANN
    retrieval and an LLM context window, killing near-duplicate hits
    that a pure top-k would stack.

    Determinism: λ=0.75 is dyadic so the score mix is exact in binary;
    relevance/pairwise cosines are the usual double folds; every argmax
    is row_number with a neighbor_id tie-break — so the greedy
    trajectory is identical on both engines, pick by pick (the oracle
    unrolls the same 5 rounds as chained CTEs). Scale shape: the pool
    is a top-10 per query (TakeOrdered semantics via the windowed
    rank), the pairwise table is pool²·queries — bounded by the SERVING
    page size, never the corpus — and each greedy round is a
    broadcast-sized join."""
    e = _corpus(spark, sf_dir)
    q = e.filter(F.col("id") < N_QUERIES).select(
        F.col("id").alias("q_id"), F.col("v").alias("qv")
    )
    rel = V.dot(F.col("qv"), F.col("v")) / (
        V.norm(F.col("qv")) * V.norm(F.col("v"))
    )
    wq = W.partitionBy("q_id").orderBy(F.col("rel").desc(), "neighbor_id")
    cand = (
        e.join(F.broadcast(q), F.col("id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("id").alias("neighbor_id"),
            F.col("v"),
            rel.alias("rel"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= MMR_POOL)
        .drop("rn")
        # queries x 10 rows; feeds the pair table and every greedy round
        .localCheckpoint(eager=True)
    )
    return _mmr_greedy(cand)


def _lsh_cand_cte() -> str:
    """Candidate-pool CTE body for _mmr_oracle: top-MMR_POOL by cosine
    among the deterministic multiprobe LSH buckets (the production ANN
    pool), rel pre-rounded to 6 like the builder's lsh_topk output."""
    cos = (
        "list_inner_product(qq.qv, ee.v) / "
        "(sqrt(list_inner_product(qq.qv, qq.qv)) * "
        "sqrt(list_inner_product(ee.v, ee.v)))"
    )
    masks = ", ".join(str(m) for m in [0] + [1 << i for i in range(N_PLANES)])
    return f"""      SELECT q_id, neighbor_id, rel, v FROM (
        SELECT qq.q_id, ee.vec_id AS neighbor_id, ee.v,
               round({cos}, 6) AS rel,
               row_number() OVER (PARTITION BY qq.q_id
                                  ORDER BY {cos} DESC, ee.vec_id) AS rn
        FROM (SELECT q0.q_id, q0.qv, xor(q0.qbucket, m.mask) AS probe
              FROM (SELECT vec_id AS q_id, v AS qv, {_sql_bucket('v')} AS qbucket
                    FROM e WHERE vec_id < {N_QUERIES}) q0,
                   (SELECT unnest([{masks}]) AS mask) m) qq
        JOIN (SELECT vec_id, v, {_sql_bucket('v')} AS bucket FROM e) ee
          ON ee.bucket = qq.probe AND ee.vec_id <> qq.q_id
      ) t WHERE rn <= {MMR_POOL}"""


@register("retrieval_rerank_pipeline", oracle=_mmr_oracle(_lsh_cand_cte()))
def retrieval_rerank_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production retrieval serving pipeline end-to-end: multiprobe
    hyperplane-LSH candidate generation (top-MMR_POOL per query, the
    ann_lsh_hyperplane machinery) followed by greedy MMR
    diversification of the final 5 — ANN recall does the scale work,
    MMR keeps the context window from filling with near-duplicates.
    Composes the two registered stages under ONE oracle so the
    cross-stage contract (candidate membership, rounded relevances,
    greedy trajectory) is hash-checked as a unit, the same way
    llm_corpus_clean pins the corpus pipeline.

    Scale shape: candidate generation is the broadcast-probe bucket
    equi-join (corpus never shuffles); everything after operates on
    queries x pool-sized tables. A query whose probed buckets hold
    fewer than MMR_K candidates simply yields fewer picks — mirrored
    in both engines."""
    e = _corpus(spark, sf_dir)
    lsh = lsh_topk(e, F.col("id") < N_QUERIES, _PLANES, k=MMR_POOL).select(
        "q_id", "neighbor_id", F.col("cosine").alias("rel")
    )
    ev = e.select(F.col("id").alias("neighbor_id"), "v")
    cand = lsh.join(ev, "neighbor_id").select(
        "q_id", "neighbor_id", "rel", "v"
    ).localCheckpoint(eager=True)
    return _mmr_greedy(cand)


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization: 1-bit-per-dimension codes + Hamming scan
# ---------------------------------------------------------------------------

BQ_POOL = 20


def _sql_signpack(vec: str, lo: int) -> str:
    """DuckDB twin of the Spark sign-bit pack: bits [lo, lo+32) of
    ``vec`` folded into one BIGINT word (list_sum yields HUGEINT —
    cast back down; values fit 32 bits)."""
    return (
        f"CAST(list_sum(list_transform(range({lo}, {lo + 32}), i -> "
        f"CASE WHEN {vec}[i + 1] >= 0 THEN 1::BIGINT << (i - {lo}) "
        f"ELSE 0::BIGINT END)) AS BIGINT)"
    )


@register(
    "binary_quantization_search",
    oracle=f"""
    WITH {_ORACLE_E},
    p AS (
      SELECT vec_id, v,
             {_sql_signpack('v', 0)} AS w0,
             {_sql_signpack('v', 32)} AS w1
      FROM e
    ),
    q AS (SELECT vec_id AS q_id, v AS qv, w0 AS q0, w1 AS q1
          FROM p WHERE vec_id < {N_QUERIES}),
    ham AS (
      SELECT q.q_id, q.qv, p.vec_id AS neighbor_id, p.v,
             CAST(bit_count(xor(p.w0, q.q0))
                  + bit_count(xor(p.w1, q.q1)) AS BIGINT) AS hamming
      FROM q JOIN p ON p.vec_id <> q.q_id
    ),
    pool AS (
      SELECT q_id, qv, neighbor_id, v, hamming FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY hamming, neighbor_id) AS hrn
        FROM ham
      ) t WHERE hrn <= {BQ_POOL}
    )
    SELECT q_id, neighbor_id, hamming, round(cos, 6) AS cosine, rn FROM (
      SELECT q_id, neighbor_id, hamming,
             list_inner_product(qv, v)
               / (sqrt(list_inner_product(qv, qv))
                  * sqrt(list_inner_product(v, v))) AS cos,
             row_number() OVER (
               PARTITION BY q_id
               ORDER BY list_inner_product(qv, v)
                          / (sqrt(list_inner_product(qv, qv))
                             * sqrt(list_inner_product(v, v))) DESC,
                        neighbor_id) AS rn
      FROM pool
    ) t WHERE rn <= 5
    ORDER BY q_id, rn
    """,
)
def binary_quantization_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) quantization ANN: every {DIM}-dim vector
    compresses to TWO BIGINT words (1 bit per dimension — the 1-bit
    end of the quantization ladder next to embedding_quantization's
    int8 and the PQ tier), candidates come from a Hamming-distance
    scan over the packed words, and the top-{BQ_POOL} pool per query
    is reranked by exact cosine for the final top-5 — the
    compress-scan-rerank serving shape of RaBitQ-style 1-bit search.

    Exactness: the sign pack is an exact integer fold (>= 0 bit per
    dim, identical both engines); Hamming is bit_count over XOR of
    exact BIGINTs; pool and final rankings tie-break on neighbor_id,
    so the whole output is hash-checkable end to end — no property
    pins needed. Scale shape: the scan tier reads 16 bytes/vector
    instead of {DIM * 4} (the compression IS the speedup: Hamming over
    packed words is a popcount, and the corpus never shuffles for the
    broadcast probe); the exact-rerank tier touches only the bounded
    {BQ_POOL}·N_QUERIES pool through hint-free equi-joins."""
    e = load(spark, sf_dir).embeddings.select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    ).filter(V.dot(F.col("v"), F.col("v")) > 0)  # cosine rerank: see _ORACLE_E

    def pack(lo: int) -> Column:
        return F.expr(
            f"aggregate(transform(sequence({lo}, {lo + 31}), i -> "
            f"IF(element_at(v, i + 1) >= 0D, "
            f"shiftleft(CAST(1 AS BIGINT), i - {lo}), CAST(0 AS BIGINT))), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )

    p = e.select("vec_id", "v", pack(0).alias("w0"), pack(32).alias("w1"))
    q = p.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("w0").alias("q0"),
        F.col("w1").alias("q1"),
    )
    hamming = (
        F.bit_count(F.col("w0").bitwiseXOR(F.col("q0")))
        + F.bit_count(F.col("w1").bitwiseXOR(F.col("q1")))
    ).cast("long")
    wh = W.partitionBy("q_id").orderBy("hamming", "neighbor_id")
    pool = (
        p.drop("v")
        .join(
            # broadcast-ok: q is bounded by N_QUERIES (literal id filter)
            F.broadcast(q), F.col("vec_id") != F.col("q_id")
        )
        .select(
            "q_id",
            "qv",
            F.col("vec_id").alias("neighbor_id"),
            hamming.alias("hamming"),
        )
        .withColumn("hrn", F.row_number().over(wh))
        .filter(F.col("hrn") <= BQ_POOL)
    )
    # exact rerank of the bounded pool: hint-free equi-join back to the
    # raw vectors (AQE picks the strategy)
    nv = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    cos = V.dot(F.col("qv"), F.col("nv")) / (
        V.norm(F.col("qv")) * V.norm(F.col("nv"))
    )
    wr = W.partitionBy("q_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        pool.join(nv, "neighbor_id")
        .select("q_id", "neighbor_id", "hamming", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .select(
            "q_id",
            "neighbor_id",
            "hamming",
            F.round("cos", 6).alias("cosine"),
            "rn",
        )
        .orderBy("q_id", "rn")
    )


# ---------------------------------------------------------------------------
# Grid-partitioned Local Outlier Factor (radius-capped LOF, Breunig 2000)
# ---------------------------------------------------------------------------

LOF_K = 5
LOF_R2 = 0.0025  # cap radius R = 0.05 on the (v[1], v[2]) plane; R^2 literal
LOF_CELL = 0.05  # grid cell width == R, so any pair within R shares
#                  adjacent (3x3) cells — the grid join is LOSSLESS


@register(
    "grid_lof_outliers",
    oracle=f"""
    WITH {_ORACLE_E},
    pts AS (SELECT vec_id AS id, v[1] AS x, v[2] AS y FROM e),
    pairs AS (
      SELECT a.id AS id_p, b.id AS id_o,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM pts a JOIN pts b ON b.id <> a.id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {LOF_R2}
    ),
    kd AS (
      SELECT id_p, CAST(count(*) AS BIGINT) AS n_within_r,
             coalesce(max(CASE WHEN rn = {LOF_K} THEN d2 END), {LOF_R2})
               AS kdist2
      FROM (SELECT *, row_number() OVER (PARTITION BY id_p
                                         ORDER BY d2, id_o) AS rn
            FROM pairs)
      GROUP BY id_p
    ),
    nk AS (
      SELECT p.id_p, p.id_o, p.d2, k.n_within_r
      FROM pairs p JOIN kd k ON k.id_p = p.id_p
      WHERE p.d2 <= k.kdist2
    ),
    reach AS (
      SELECT nk.id_p, nk.id_o, nk.n_within_r,
             CAST(floor(sqrt(greatest(ko.kdist2, nk.d2)) * 1000000)
                  AS BIGINT) AS reach_micro
      FROM nk JOIN kd ko ON ko.id_p = nk.id_o
    ),
    lrd AS (
      SELECT id_p,
             CAST(count(*) AS BIGINT) AS cnt_k,
             max(n_within_r) AS n_within_r,
             CAST(count(*) * 1000000000000 AS BIGINT)
               // CAST(sum(reach_micro) AS BIGINT) AS lrd_micro
      FROM reach GROUP BY id_p
    )
    SELECT id AS vec_id, n_within_r, lof FROM (
      SELECT n.id_p AS id, l.n_within_r,
             round(CAST(sum(lo.lrd_micro) AS BIGINT)
                   / (CAST(l.cnt_k AS DOUBLE) * l.lrd_micro), 6) AS lof,
             row_number() OVER (
               ORDER BY CAST(sum(lo.lrd_micro) AS BIGINT)
                          / (CAST(l.cnt_k AS DOUBLE) * l.lrd_micro) DESC,
                        n.id_p) AS rn
      FROM nk n
      JOIN lrd l ON l.id_p = n.id_p
      JOIN lrd lo ON lo.id_p = n.id_o
      WHERE l.n_within_r >= {LOF_K}
      GROUP BY n.id_p, l.n_within_r, l.cnt_k, l.lrd_micro
    ) t WHERE rn <= 20
    ORDER BY lof DESC, vec_id
    """,
)
def grid_lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor (Breunig et al. 2000) over the (v[1], v[2])
    embedding plane, radius-capped at R={LOF_CELL} and computed with a
    GRID-PARTITIONED neighbor join: points bucket into R-wide cells,
    each point probes its 3x3 cell neighborhood, and any pair within R
    necessarily shares adjacent cells — so the grid join is LOSSLESS
    and the all-pairs O(n²) never materializes (cost = cells x local
    density², the standard spatial-join shape that holds at 100 TB with
    R tuned to density). The ORACLE is the brute-force all-pairs join
    under the identical capped semantics, so hash equality proves grid
    completeness.

    Capped semantics (deterministic, both engines): N(p) = neighbors
    within R; k-dist(p) = distance to the k-th nearest (ties broken on
    id), or R when |N(p)| < k; N_k(p) = neighbors within k-dist;
    reach-dist(p,o) = max(k-dist(o), d(p,o)); lrd and LOF per Breunig.
    LOF is emitted only for points with a full neighborhood
    (|N(p)| >= k); top-20 by LOF descending.

    Exactness: d² and k-dist² are single fixed-shape double
    expressions (identical cross-engine); sqrt is IEEE
    correctly-rounded, so every reach-dist double is bit-identical and
    its 1e-6 fixed-point floor is exact — lrd becomes exact integer
    arithmetic (count·1e12 // Σ reach_micro) and LOF one double
    division of exact integers, so sums never accumulate
    engine-divergent doubles."""
    e = load(spark, sf_dir).embeddings
    pts = e.select(
        F.col("vec_id").alias("id"),
        F.element_at(V.as_double(F.col("embedding")), 1).alias("x"),
        F.element_at(V.as_double(F.col("embedding")), 2).alias("y"),
    )
    cell = lambda c: F.floor(F.col(c) / LOF_CELL).cast("long")  # noqa: E731
    a = pts.select(
        "id",
        "x",
        "y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cell("x") + dx).alias("cx"), (cell("y") + dy).alias("cy")
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("probe"),
    ).select("id", "x", "y", F.col("probe.cx").alias("cx"), F.col("probe.cy").alias("cy"))
    b = pts.select(
        F.col("id").alias("id_o"),
        F.col("x").alias("xo"),
        F.col("y").alias("yo"),
        cell("x").alias("bcx"),
        cell("y").alias("bcy"),
    )
    d2 = (F.col("x") - F.col("xo")) * (F.col("x") - F.col("xo")) + (
        F.col("y") - F.col("yo")
    ) * (F.col("y") - F.col("yo"))
    pairs = (
        a.join(b, (F.col("bcx") == F.col("cx")) & (F.col("bcy") == F.col("cy")))
        .filter(F.col("id_o") != F.col("id"))
        .select(F.col("id").alias("id_p"), "id_o", d2.alias("d2"))
        .filter(F.col("d2") <= LOF_R2)
    )
    wk = W.partitionBy("id_p").orderBy("d2", "id_o")
    kd = (
        pairs.withColumn("rn", F.row_number().over(wk))
        .groupBy("id_p")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_within_r"),
            F.coalesce(
                F.max(F.when(F.col("rn") == LOF_K, F.col("d2"))),
                F.lit(LOF_R2),
            ).alias("kdist2"),
        )
        # staged: kd is a NARROW per-point fit artifact (id, count,
        # kdist² — 24 B/point, the LOF analogue of a model table) that
        # every later stage re-joins; without the pin each of its four
        # consumers re-derives the full grid join and the plan degrades
        # to 16 corpus scans (r10 plan-audit catch)
        .localCheckpoint(eager=True)
    )
    kdr = kd.select(
        F.col("id_p").alias("kd_id"), "n_within_r", "kdist2"
    )
    nk = (
        pairs.join(kdr, F.col("id_p") == F.col("kd_id"))
        .filter(F.col("d2") <= F.col("kdist2"))
        .select("id_p", "id_o", "d2", "n_within_r")
    )
    ko = kd.select(F.col("id_p").alias("id_o"), F.col("kdist2").alias("kdist2_o"))
    reach = nk.join(ko, "id_o").select(
        "id_p",
        "id_o",
        "n_within_r",
        F.floor(F.sqrt(F.greatest(F.col("kdist2_o"), F.col("d2"))) * 1_000_000)
        .cast("long")
        .alias("reach_micro"),
    )
    lrd = (
        reach.groupBy("id_p")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt_k"),
            F.max("n_within_r").alias("n_within_r"),
            F.expr(
                "CAST(count(1) * 1000000000000 AS BIGINT) div "
                "CAST(sum(reach_micro) AS BIGINT)"
            ).alias("lrd_micro"),
        )
        # staged for the same reason as kd: consumed twice (own lrd +
        # neighbors' lrd) and each re-derivation costs the whole chain
        .localCheckpoint(eager=True)
    )
    lo = lrd.select(
        F.col("id_p").alias("id_o"), F.col("lrd_micro").alias("lrd_micro_o")
    )
    lof_val = F.col("sum_lrd_o").cast("double") / (
        F.col("cnt_k").cast("double") * F.col("lrd_micro")
    )
    wtop = W.orderBy(F.col("lof").desc(), "vec_id")
    return (
        nk.select("id_p", "id_o")
        .join(lrd, "id_p")
        .filter(F.col("n_within_r") >= LOF_K)
        .join(lo, "id_o")
        .groupBy("id_p", "n_within_r", "cnt_k", "lrd_micro")
        .agg(F.sum("lrd_micro_o").cast("long").alias("sum_lrd_o"))
        .select(
            F.col("id_p").alias("vec_id"),
            "n_within_r",
            lof_val.alias("lof"),
        )
        .orderBy(F.col("lof").desc(), "vec_id")
        .limit(20)
        .select("vec_id", "n_within_r", F.round("lof", 6).alias("lof"))
        .orderBy(F.col("lof").desc(), "vec_id")
    )


JL_K = 16  # projected dimensionality
JL_D = 64  # source embedding dimensionality
JL_PAIR_IDS = 30  # audit pairs drawn from vec_id < 30 -> 435 pairs


def _jl_signs() -> list[list[float]]:
    """Deterministic ±1 projection matrix from md5 nibble parity —
    baked as plan literals in BOTH engines (the _pq_codebooks
    fit-once-literal pattern, except this 'fit' is pure hashing)."""
    import hashlib

    out = []
    for j in range(JL_K):
        row = []
        for d in range(JL_D):
            h = hashlib.md5(f"{j}:{d}".encode()).hexdigest()
            row.append(1.0 if h[0] in "02468ace" else -1.0)
        out.append(row)
    return out


_JL_SIGNS = _jl_signs()
_JL_SIGNS_SQL = ", ".join(
    "({}, [{}]::DOUBLE[])".format(j, ", ".join(str(s) for s in row))
    for j, row in enumerate(_JL_SIGNS)
)


@register(
    "jl_projection_distortion_audit",
    oracle=f"""
    WITH {_ORACLE_E},
    signs(j, sv) AS (VALUES {{signs}}),
    sample AS (SELECT vec_id, v FROM e WHERE vec_id < {JL_PAIR_IDS}),
    proj AS (
      SELECT vec_id, list(ip ORDER BY j) AS pv
      FROM (
        SELECT s.vec_id, g.j, list_inner_product(s.v, g.sv) AS ip
        FROM sample s CROSS JOIN signs g
      ) GROUP BY vec_id
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_inner_product(a.v, a.v) - 2 * list_inner_product(a.v, b.v)
               + list_inner_product(b.v, b.v) AS d2_orig,
             list_inner_product(pa.pv, pa.pv)
               - 2 * list_inner_product(pa.pv, pb.pv)
               + list_inner_product(pb.pv, pb.pv) AS d2_proj
      FROM sample a
      JOIN sample b ON a.vec_id < b.vec_id
      JOIN proj pa ON pa.vec_id = a.vec_id
      JOIN proj pb ON pb.vec_id = b.vec_id
    ),
    micro AS (
      SELECT CAST(floor(d2_proj / ({JL_K} * d2_orig) * 1000000 + 1e-3)
                  AS BIGINT) AS m
      FROM pairs
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           {JL_K} AS k_dims, {JL_D} AS d_dims,
           round(sum(m) * 1.0 / count(*) / 1000000, 6) AS mean_distortion,
           CAST(min(m) AS BIGINT) AS min_distortion_micro,
           CAST(max(m) AS BIGINT) AS max_distortion_micro,
           round(sum(CASE WHEN m BETWEEN 700000 AND 1300000
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS share_within_30pct
    FROM micro
    """.replace("{signs}", _JL_SIGNS_SQL),
)
def jl_projection_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims with a ±1
    (Achlioptas 2003) matrix baked from md5 nibble parity, audited on
    the 435 pairs among vec_id < 30: E[||Px-Py||^2 / k] = ||x-y||^2,
    so distortion = d2_proj/(k*d2_orig) concentrates around 1 — the
    cheap-dimension-reduction step that sits in front of LSH/IVF when
    64-d is still too wide to shuffle at corpus scale (projection is
    ONE map-side pass of k fused zip_with/aggregate folds per vector;
    nothing about the corpus shuffles).

    Cross-engine determinism: both engines evaluate left-to-right
    inner-product folds over identical literals, and every distance
    uses the SAME ||a||^2 - 2ab + ||b||^2 expansion in both plans (a
    fold over (x-y)^2 would associate differently from DuckDB's
    list_inner_product); per-pair distortions floor to 1e-6 fixed
    point before any cross-pair aggregation, so sums are BIGINT.
    Scale: the audit joins are over the 30-row sample; the projection
    itself is corpus-linear map-only work."""
    e = _corpus(spark, sf_dir)
    # 30-row sample staged: a/b/proj consumers re-scanned embeddings
    # 4x otherwise (plan-audit r10)
    sample = (
        e.filter(F.col("id") < JL_PAIR_IDS)
        .select("id", "v")
        .localCheckpoint(eager=True)
    )
    proj = sample.select(
        "id",
        F.array(
            *[
                V.dot(F.col("v"), F.array(*[F.lit(s) for s in row]))
                for row in _JL_SIGNS
            ]
        ).alias("pv"),
    )
    a = sample.select(F.col("id").alias("id_a"), F.col("v").alias("va")).join(
        proj.select(F.col("id").alias("id_a"), F.col("pv").alias("pa")), "id_a"
    )
    b = sample.select(F.col("id").alias("id_b"), F.col("v").alias("vb")).join(
        proj.select(F.col("id").alias("id_b"), F.col("pv").alias("pb")), "id_b"
    )
    d2_orig = (
        V.dot(F.col("va"), F.col("va"))
        - 2 * V.dot(F.col("va"), F.col("vb"))
        + V.dot(F.col("vb"), F.col("vb"))
    )
    d2_proj = (
        V.dot(F.col("pa"), F.col("pa"))
        - 2 * V.dot(F.col("pa"), F.col("pb"))
        + V.dot(F.col("pb"), F.col("pb"))
    )
    micro = (
        # broadcast the 30-row side: the inequality pair join then
        # plans as BroadcastNestedLoopJoin, not a CartesianProduct
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            F.floor(d2_proj / (JL_K * d2_orig) * 1_000_000 + 1e-3)
            .cast("long")
            .alias("m")
        )
    )
    return micro.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.lit(JL_K).alias("k_dims"),
        F.lit(JL_D).alias("d_dims"),
        F.round(F.sum("m") * 1.0 / F.count(F.lit(1)) / 1_000_000, 6).alias(
            "mean_distortion"
        ),
        F.min("m").cast("long").alias("min_distortion_micro"),
        F.max("m").cast("long").alias("max_distortion_micro"),
        F.round(
            F.sum(F.col("m").between(700000, 1300000).cast("int"))
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("share_within_30pct"),
    )
