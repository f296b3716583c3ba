"""Experiment-statistics mining tier (split from mining.py, r11):
allocation/design (Neyman, power analysis lives in mining_policy),
interim monitoring, the classical two-sample test kit (Welch, QTE,
Mann-Whitney, KS, bootstrap CIs), robust trend/changepoint estimators
(Theil-Sen, binseg), calibration (conformal), decision quantities
(newsvendor), panel effects (diff-in-diff), correlation/diagnostics
(Kendall, Durbin-Watson), distributional shape (Lorenz, Simpson,
Hill, Hurst) — all oracle-checked, all fixed-point-guarded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.operators.mining_common import (
    _CUPED_SPLIT,
    _EV_CENTS,
)
from data_warehouse_data_mining_spark.registry import register
from data_warehouse_data_mining_spark.session import local_frame

_NEYMAN_BUDGET = 1000


@register(
    "neyman_allocation",
    oracle=f"""
    WITH m AS (
      SELECT c_nationkey AS nk,
             CAST(count(*) AS BIGINT) AS nh,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS s,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                      * CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS ss
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey
    ),
    w AS (
      SELECT nk, nh,
             sqrt((CAST(ss AS DOUBLE) * nh - CAST(s AS DOUBLE) * s))
               / nh * nh AS wt
      FROM m
    ),
    q AS (
      SELECT nk, nh, wt,
             {_NEYMAN_BUDGET} * wt / (SELECT sum(wt) FROM w) AS quota
      FROM w
    ),
    fl AS (
      SELECT nk, nh, wt, quota,
             CAST(floor(quota) AS BIGINT) AS base,
             quota - floor(quota) AS rem
      FROM q
    ),
    short AS (
      SELECT {_NEYMAN_BUDGET} - CAST(sum(base) AS BIGINT) AS k FROM fl
    ),
    ranked AS (
      SELECT nk, nh, quota, base,
             row_number() OVER (ORDER BY rem DESC, nk) AS rr
      FROM fl
    )
    SELECT nk AS nationkey, nh AS n_orders,
           round(quota, 6) AS exact_quota,
           CAST(base + CASE WHEN rr <= (SELECT k FROM short)
                            THEN 1 ELSE 0 END AS BIGINT) AS allocated
    FROM ranked
    ORDER BY nationkey
    """,
)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal sample allocation: split a {_NEYMAN_BUDGET}-unit
    audit budget across nation strata proportional to N_h·S_h (stratum
    size × spend standard deviation) — the survey-design rule that
    minimizes estimator variance for a fixed budget, and the statistical
    sibling of token_budget_allocation's share-based split.

    S_h comes from exact integer moment sums (one joined aggregate);
    quotas are identical doubles on both engines, integerized with
    LARGEST REMAINDER (floor + top-k remainders, nation tiebreak) so
    allocations sum to exactly the budget. The remainder ranking runs
    over the ≤25-row strata table — bounded by construction."""
    t = load(spark, sf_dir)
    cents = F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
    m = (
        t.orders.join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).alias("nh"),
            F.sum(cents).cast("long").alias("s"),
            F.sum(cents * cents).cast("long").alias("ss"),
        )
        # strata-sized; weight, total-weight and ranking all read it
        .localCheckpoint(eager=True)
    )
    wt = (
        F.sqrt(
            F.col("ss").cast("double") * F.col("nh")
            - F.col("s").cast("double") * F.col("s")
        )
        / F.col("nh")
        * F.col("nh")
    )
    w = m.select("nk", "nh", wt.alias("wt"))
    tot = w.agg(F.sum("wt").alias("twt"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "nk",
        "nh",
        (F.lit(_NEYMAN_BUDGET) * F.col("wt") / F.col("twt")).alias("quota"),
    )
    fl = q.select(
        "nk",
        "nh",
        "quota",
        F.floor("quota").cast("long").alias("base"),
        (F.col("quota") - F.floor("quota")).alias("rem"),
    ).localCheckpoint(eager=True)
    short = fl.agg(
        (F.lit(_NEYMAN_BUDGET) - F.sum("base").cast("long")).alias("k")
    )
    wrk = W.orderBy(F.col("rem").desc(), F.col("nk"))  # ≤25 strata rows
    return (
        fl.withColumn("rr", F.row_number().over(wrk))
        .crossJoin(F.broadcast(short))
        .select(
            F.col("nk").alias("nationkey"),
            F.col("nh").alias("n_orders"),
            F.round("quota", 6).alias("exact_quota"),
            (
                F.col("base")
                + F.when(F.col("rr") <= F.col("k"), 1).otherwise(0)
            )
            .cast("long")
            .alias("allocated"),
        )
        .orderBy("nationkey")
    )


_LOOK_CUTS = ("2024-01-11 00:00:00", "2024-01-21 00:00:00", "2024-02-01 00:00:00")
_OBF_BOUNDS = (3.471, 2.454, 2.004)  # O'Brien-Fleming, 3 looks, two-sided 0.05


def _interim_oracle() -> str:
    looks = []
    for i, (cut, bound) in enumerate(zip(_LOOK_CUTS, _OBF_BOUNDS)):
        looks.append(f"""
      SELECT {i + 1} AS look, '{cut[:10]}' AS cutoff,
             CAST(sum(CASE WHEN arm = 'A' AND first_ts < TIMESTAMP '{cut}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN arm = 'A' AND conv_ts < TIMESTAMP '{cut}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN arm = 'B' AND first_ts < TIMESTAMP '{cut}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN arm = 'B' AND conv_ts < TIMESTAMP '{cut}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS c_b,
             CAST({bound} AS DOUBLE) AS boundary
      FROM per_user""")
    union = " UNION ALL ".join(looks)
    return f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             min(ts) AS first_ts,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS conv_ts
      FROM events GROUP BY user_id
    ),
    looks AS ({union}),
    z AS (
      SELECT look, cutoff, n_a, c_a, n_b, c_b, boundary,
             CASE WHEN n_a = 0 OR n_b = 0
                   OR (c_a + c_b) = 0 OR (c_a + c_b) = (n_a + n_b) THEN 0.0
                  ELSE (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                       / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                              * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                              * (1.0 / n_a + 1.0 / n_b))
             END AS zval
      FROM looks
    )
    SELECT look, cutoff, n_a, c_a, n_b, c_b,
           round(zval, 6) AS z, boundary,
           CASE WHEN abs(zval) > boundary THEN 1 ELSE 0 END AS crossed
    FROM z ORDER BY look
    """


@register(
    "ab_interim_monitoring",
    oracle=_interim_oracle(),
)
def ab_interim_monitoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring: the hash-split experiment
    (ab_test_conversion's arms) evaluated at THREE interim looks (day
    10 / 20 / end) against O'Brien-Fleming z-boundaries (3.471 / 2.454
    / 2.004, two-sided α=0.05 over 3 looks) — the peeking-safe early-
    stop protocol; a naive fixed 1.96 cut at every look inflates false
    positives ~3×, which is the whole reason the spending boundaries
    exist.

    ONE per-user aggregate (first event, first conversion) feeds all
    looks; each look is a conditional sum over the same user table, and
    each z is the pooled two-proportion statistic over exact counts
    with the degenerate-pool guard (the ab_test_conversion lesson).
    Boundary crossings compare identical doubles against literal
    thresholds."""
    e = load(spark, sf_dir).events
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("conv_ts"),
        )
        .select(
            F.when(F.md5(F.col("user_id").cast("string")) < "8", "A")
            .otherwise("B")
            .alias("arm"),
            "first_ts",
            "conv_ts",
        )
        # user-count sized; all three looks read it
        .localCheckpoint(eager=True)
    )
    rows = None
    for i, (cut, bound) in enumerate(zip(_LOOK_CUTS, _OBF_BOUNDS)):
        cutc = F.lit(cut).cast("timestamp")
        r = per_user.agg(
            F.lit(i + 1).alias("look"),
            F.lit(cut[:10]).alias("cutoff"),
            F.sum(
                F.when((F.col("arm") == "A") & (F.col("first_ts") < cutc), 1)
                .otherwise(0)
            ).cast("long").alias("n_a"),
            F.sum(
                F.when((F.col("arm") == "A") & (F.col("conv_ts") < cutc), 1)
                .otherwise(0)
            ).cast("long").alias("c_a"),
            F.sum(
                F.when((F.col("arm") == "B") & (F.col("first_ts") < cutc), 1)
                .otherwise(0)
            ).cast("long").alias("n_b"),
            F.sum(
                F.when((F.col("arm") == "B") & (F.col("conv_ts") < cutc), 1)
                .otherwise(0)
            ).cast("long").alias("c_b"),
            F.lit(bound).alias("boundary"),
        )
        rows = r if rows is None else rows.unionAll(r)
    p = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    zval = F.when(
        (F.col("n_a") == 0)
        | (F.col("n_b") == 0)
        | (F.col("c_a") + F.col("c_b") == 0)
        | (F.col("c_a") + F.col("c_b") == F.col("n_a") + F.col("n_b")),
        0.0,
    ).otherwise(
        (
            F.col("c_a").cast("double") / F.col("n_a")
            - F.col("c_b").cast("double") / F.col("n_b")
        )
        / F.sqrt(p * (1 - p) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    )
    return rows.select(
        "look",
        "cutoff",
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(zval, 6).alias("z"),
        "boundary",
        F.when(F.abs(zval) > F.col("boundary"), 1).otherwise(0).alias(
            "crossed"
        ),
    ).orderBy("look")


@register(
    "training_set_pit_features",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER w AS rn,
             max(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_ts,
             last_value(CASE WHEN event_type = 'click' THEN value END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS label_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS label_ts,
           round(value, 2) AS label_value,
           CAST(rn - 1 AS BIGINT) AS n_prior_events,
           round(last_click_value, 2) AS last_click_value,
           CAST(CASE WHEN last_click_ts IS NOT NULL
                     THEN floor(date_part('epoch', ts)
                                - date_part('epoch', last_click_ts))
                END AS BIGINT) AS secs_since_click
    FROM seq
    WHERE event_type = 'purchase'
    ORDER BY user_id, label_event_id
    """,
)
def training_set_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training-set assembly — the feature-store
    discipline that keeps label leakage out of ML data: for every
    purchase (the label event), every feature is computed over STRICTLY
    PRIOR events only (ROWS … 1 PRECEDING frames) — the as-of click
    value, the prior-event count, and the staleness of the last click.
    Using a plain groupBy-per-user aggregate here (the classic mistake)
    would fold post-label events into the features.

    One shuffle on user_id; all three features share the same
    partitioned sort, so Catalyst plans a single Sort + one Window
    operator — the PIT join at 100 TB is a window, not an interval
    join, when features and labels live on the same event log."""
    e = load(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prior = w.rowsBetween(W.unboundedPreceding, -1)
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    click_v = F.when(F.col("event_type") == "click", F.col("value"))
    seq = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        (F.row_number().over(w) - 1).cast("long").alias("n_prior_events"),
        F.max(click_ts).over(prior).alias("last_click_ts"),
        F.last(click_v, ignorenulls=True).over(prior).alias("last_click_value"),
    )
    return (
        seq.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("label_event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("label_ts"),
            F.round("value", 2).alias("label_value"),
            "n_prior_events",
            F.round("last_click_value", 2).alias("last_click_value"),
            # CAST(ts AS DOUBLE) keeps the microsecond fraction, matching
            # DuckDB's fractional date_part('epoch'); unix_timestamp()
            # would truncate each side first and drift by 1s when the
            # fractional parts wrap
            F.floor(
                F.col("ts").cast("double") - F.col("last_click_ts").cast("double")
            )
            .cast("long")
            .alias("secs_since_click"),
        )
        .orderBy("user_id", "label_event_id")
    )


@register(
    "ab_welch_ttest",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(sum({_EV_CENTS}) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(sum(CASE WHEN arm = 'A' THEN c ELSE 0 END) AS BIGINT) AS sa,
             CAST(sum(CASE WHEN arm = 'B' THEN c ELSE 0 END) AS BIGINT) AS sb,
             CAST(sum(CASE WHEN arm = 'A' THEN c * c ELSE 0 END) AS BIGINT) AS ssa,
             CAST(sum(CASE WHEN arm = 'B' THEN c * c ELSE 0 END) AS BIGINT) AS ssb
      FROM per_user
    ),
    x AS (
      SELECT na, nb,
             sa / (CAST(na AS DOUBLE) * 100) AS mean_a,
             sb / (CAST(nb AS DOUBLE) * 100) AS mean_b,
             (CAST(na AS DOUBLE) * ssa - CAST(sa AS DOUBLE) * sa)
               / (CAST(na AS DOUBLE) * (na - 1)) / 10000.0 / na AS sq_a,
             (CAST(nb AS DOUBLE) * ssb - CAST(sb AS DOUBLE) * sb)
               / (CAST(nb AS DOUBLE) * (nb - 1)) / 10000.0 / nb AS sq_b
      FROM m
    )
    SELECT na AS n_a, nb AS n_b,
           round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
           round(CASE WHEN sq_a + sq_b = 0 THEN 0.0
                      ELSE (mean_a - mean_b) / sqrt(sq_a + sq_b) END, 6)
             AS t_stat,
           round(CASE WHEN sq_a + sq_b = 0 THEN 0.0
                      ELSE (sq_a + sq_b) * (sq_a + sq_b)
                           / (sq_a * sq_a / (na - 1) + sq_b * sq_b / (nb - 1))
                 END, 6) AS welch_df
    FROM x
    """,
)
def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between the hash-split arms
    (ab_test_conversion's assignment) on per-user total spend: the
    t statistic and the Welch-Satterthwaite degrees of freedom — the
    default two-sample test when arm variances differ (Welch 1947).

    Same discipline as ab_cuped_adjustment: ONE per-user aggregation
    pass (cents fixed-point), exact bigint moment sums (n, sum, sum of
    squares per arm via conditional aggregation — no second shuffle),
    then t and df as single identical double expressions on both
    engines; the degenerate zero-variance pool guards to 0 with a CASE
    on the double standard error (ANSI Spark raises on double/0).
    p-values need the t CDF (not expressible identically in both
    engines) — consumers threshold |t| against a fixed critical value,
    which at these df is 1.96 for alpha=0.05."""
    e = load(spark, sf_dir).events
    cents = F.expr(_EV_CENTS)
    per_user = e.groupBy("user_id").agg(
        F.sum(cents).cast("long").alias("c")
    ).select(
        F.when(F.md5(F.col("user_id").cast("string")) < "8", "A")
        .otherwise("B")
        .alias("arm"),
        "c",
    )
    one_if = lambda a: F.sum(F.when(F.col("arm") == a, 1).otherwise(0))
    c_if = lambda a: F.sum(F.when(F.col("arm") == a, F.col("c")).otherwise(0))
    cc_if = lambda a: F.sum(
        F.when(F.col("arm") == a, F.col("c") * F.col("c")).otherwise(0)
    )
    m = per_user.agg(
        one_if("A").cast("long").alias("na"),
        one_if("B").cast("long").alias("nb"),
        c_if("A").cast("long").alias("sa"),
        c_if("B").cast("long").alias("sb"),
        cc_if("A").cast("long").alias("ssa"),
        cc_if("B").cast("long").alias("ssb"),
    )
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    sad, sbd = F.col("sa").cast("double"), F.col("sb").cast("double")
    x = m.select(
        "na",
        "nb",
        (F.col("sa") / (nad * 100)).alias("mean_a"),
        (F.col("sb") / (nbd * 100)).alias("mean_b"),
        (
            (nad * F.col("ssa") - sad * F.col("sa"))
            / (nad * (F.col("na") - 1))
            / 10000.0
            / F.col("na")
        ).alias("sq_a"),
        (
            (nbd * F.col("ssb") - sbd * F.col("sb"))
            / (nbd * (F.col("nb") - 1))
            / 10000.0
            / F.col("nb")
        ).alias("sq_b"),
    )
    se2 = F.col("sq_a") + F.col("sq_b")
    return x.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round(
            F.when(se2 == 0, 0.0).otherwise(
                (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)
            ),
            6,
        ).alias("t_stat"),
        F.round(
            F.when(se2 == 0, 0.0).otherwise(
                se2
                * se2
                / (
                    F.col("sq_a") * F.col("sq_a") / (F.col("na") - 1)
                    + F.col("sq_b") * F.col("sq_b") / (F.col("nb") - 1)
                )
            ),
            6,
        ).alias("welch_df"),
    )


_QTE_PS = [0.25, 0.5, 0.75]


@register(
    "quantile_treatment_effects",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(sum({_EV_CENTS}) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    q AS (
      SELECT arm,
             percentile_cont(0.25) WITHIN GROUP (ORDER BY c) AS p25,
             percentile_cont(0.50) WITHIN GROUP (ORDER BY c) AS p50,
             percentile_cont(0.75) WITHIN GROUP (ORDER BY c) AS p75
      FROM per_user GROUP BY arm
    ),
    wide AS (
      SELECT CAST(p AS DOUBLE) AS p,
             CASE p WHEN 0.25 THEN max(CASE WHEN arm = 'A' THEN p25 END)
                    WHEN 0.50 THEN max(CASE WHEN arm = 'A' THEN p50 END)
                    ELSE max(CASE WHEN arm = 'A' THEN p75 END) END AS qa,
             CASE p WHEN 0.25 THEN max(CASE WHEN arm = 'B' THEN p25 END)
                    WHEN 0.50 THEN max(CASE WHEN arm = 'B' THEN p50 END)
                    ELSE max(CASE WHEN arm = 'B' THEN p75 END) END AS qb
      FROM q CROSS JOIN (SELECT unnest([0.25, 0.50, 0.75]) AS p) ps
      GROUP BY p
    )
    SELECT p, round(qa / 100.0, 6) AS q_a, round(qb / 100.0, 6) AS q_b,
           round(qb / 100.0 - qa / 100.0, 6) AS qte
    FROM wide ORDER BY p
    """,
)
def quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects for the hash-split experiment: the
    per-arm exact interpolated quartiles of per-user total spend and
    their B-minus-A gaps — the distributional view a mean-only t-test
    (ab_welch_ttest) misses when a treatment moves the tails, not the
    center (Koenker-Bassett quantile-effect framing).

    Exact quantiles come from exact_group_percentiles'
    sketch-bracketed selection (the median_exact machinery — never a
    per-group whole-column agg buffer, so per-arm order statistics
    stay scale-safe); inputs are exact cent integers so the
    percentile_cont interpolation is the same two-value double lerp on
    both engines."""
    from data_warehouse_data_mining_spark.operators.relational import (
        exact_group_percentiles,
    )

    e = load(spark, sf_dir).events
    cents = F.expr(_EV_CENTS)
    per_user = (
        e.groupBy("user_id")
        .agg(F.sum(cents).cast("long").alias("c"))
        .select(
            F.when(F.md5(F.col("user_id").cast("string")) < "8", "A")
            .otherwise("B")
            .alias("arm"),
            "c",
        )
    )
    per_p = exact_group_percentiles(per_user, "arm", "c", _QTE_PS)
    p_of = F.element_at(
        F.array(*[F.lit(p) for p in _QTE_PS]), F.col("pid") + 1
    )
    return (
        per_p.groupBy("pid")
        .pivot("arm", ["A", "B"])
        .agg(F.first("val"))
        .select(
            p_of.alias("p"),
            F.round(F.col("A") / 100.0, 6).alias("q_a"),
            F.round(F.col("B") / 100.0, 6).alias("q_b"),
            F.round(F.col("B") / 100.0 - F.col("A") / 100.0, 6).alias("qte"),
        )
        .orderBy("p")
    )


# Cumulative Poisson(1) CDF thresholds P(X <= k), k = 0..8; computed
# once in Python and embedded as IDENTICAL double literals in the Spark
# plan and the oracle SQL, so the inverse-CDF step function is the same
# on both engines. Replicate weights beyond 9 are astronomically rare
# (P > 9 with lambda=1 is ~1e-7) and truncate to 9.
import math as _math

_POIS_CUM: list[float] = []
_acc, _term = 0.0, _math.exp(-1.0)
for _k in range(9):
    _acc += _term
    _POIS_CUM.append(_acc)
    _term /= _k + 1

BOOTSTRAP_B = 32

_BOOT_HEXWORD_SQL = (
    "list_reduce(list_transform(range(1, 9), "
    "i -> CAST(strpos('0123456789abcdef', substr(m, CAST(i AS INT), 1)) - 1"
    " AS BIGINT)), (a, b) -> a * 16 + b)"
)


@register(
    "poisson_bootstrap_ci",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, CAST(sum({_EV_CENTS}) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    reps AS (
      SELECT u.user_id, u.c, b.b,
             md5('boot|' || CAST(u.user_id AS VARCHAR)
                 || '|' || CAST(b.b AS VARCHAR)) AS m
      FROM per_user u
      CROSS JOIN (SELECT unnest(range(0, {BOOTSTRAP_B})) AS b) b
    ),
    wts AS (
      SELECT b, c,
             ({" + ".join(f"(CASE WHEN ({_BOOT_HEXWORD_SQL} + 0.5) / 4294967296.0 >= {t!r} THEN 1 ELSE 0 END)" for t in _POIS_CUM)})
               AS w
      FROM reps
    ),
    means AS (
      SELECT b, CAST(sum(w * c) AS BIGINT) AS swc, CAST(sum(w) AS BIGINT) AS sw
      FROM wts GROUP BY b
    ),
    ranked AS (
      SELECT swc / (CAST(sw AS DOUBLE) * 100) AS mean_b,
             row_number() OVER (ORDER BY swc / (CAST(sw AS DOUBLE) * 100)) AS rn
      FROM means
    ),
    fs AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             sum(c) / (CAST(count(*) AS DOUBLE) * 100) AS mean_spend
      FROM per_user
    )
    SELECT f.n_users, {BOOTSTRAP_B} AS b_replicates,
           round(f.mean_spend, 6) AS mean_spend,
           round(max(CASE WHEN rn = 1 THEN mean_b END), 6) AS env_lo,
           round(max(CASE WHEN rn = {BOOTSTRAP_B} THEN mean_b END), 6)
             AS env_hi
    FROM ranked CROSS JOIN fs f
    GROUP BY f.n_users, f.mean_spend
    """,
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap confidence interval for mean per-user
    spend: every (user, replicate) pair draws an independent Poisson(1)
    resample weight, so each of the B=32 replicate means is computable
    in ONE streaming pass with no resampling shuffle — the
    single-pass bootstrap that works when the data cannot be
    materialized B times (Chamandy et al. 2012, "Estimating Uncertainty
    for Massive Data Streams"). The interval is the SYMMETRIC full
    replicate envelope — min and max of the B=32 replicate means
    (ranks 1 and B) — which under the (B+1) order-statistic rule is an
    equal-tailed ~94% percentile interval (1 - 2/(B+1)); with B=32 no
    order statistic lands at exactly 2.5%/97.5%, so the output is
    labeled env_lo/env_hi rather than claiming an exact 95% CI.

    Determinism: weights come from the inverse Poisson CDF applied to
    the md5-dyadic uniform (the dp_noisy_group_counts recipe — exactly
    representable, never compared against a computed constant: the CDF
    thresholds are baked as identical double literals in both plans);
    replicate sums are exact integer (weight x cents) adds, so every
    replicate mean is the same single double division on both engines.
    Scale shape: explode B=32 on the per-user table (dimension-sized,
    not event-sized), one (b)-keyed 32-group aggregate with full
    map-side combine, then O(B) driver-free order statistics."""
    e = load(spark, sf_dir).events
    cents = F.expr(_EV_CENTS)
    per_user = (
        e.groupBy("user_id")
        .agg(F.sum(cents).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    reps = per_user.withColumn(
        "b", F.explode(F.array(*[F.lit(b) for b in range(BOOTSTRAP_B)]))
    )
    m = F.md5(
        F.concat(
            F.lit("boot|"),
            F.col("user_id").cast("string"),
            F.lit("|"),
            F.col("b").cast("string"),
        )
    )
    u = (F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint").cast("double") + 0.5) / 4294967296.0
    w = sum(
        (F.when(u >= F.lit(t), 1).otherwise(0) for t in _POIS_CUM),
        F.lit(0),
    )
    means = (
        reps.select("b", "c", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("c")).cast("long").alias("swc"),
            F.sum("w").cast("long").alias("sw"),
        )
    )
    mean_b = F.col("swc") / (F.col("sw").cast("double") * 100)
    ranked = means.select(mean_b.alias("mean_b")).withColumn(
        "rn", F.row_number().over(W.orderBy("mean_b"))
    )
    full = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (F.sum("c") / (F.count(F.lit(1)).cast("double") * 100)).alias(
            "mean_spend"
        ),
    )
    return (
        ranked.crossJoin(F.broadcast(full))
        .groupBy("n_users", "mean_spend")
        .agg(
            F.round(F.max(F.when(F.col("rn") == 1, F.col("mean_b"))), 6).alias(
                "env_lo"
            ),
            F.round(
                F.max(
                    F.when(F.col("rn") == BOOTSTRAP_B, F.col("mean_b"))
                ),
                6,
            ).alias("env_hi"),
        )
        .select(
            "n_users",
            F.lit(BOOTSTRAP_B).alias("b_replicates"),
            F.round("mean_spend", 6).alias("mean_spend"),
            "env_lo",
            "env_hi",
        )
    )


HILL_K = 64
_OP_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"


@register(
    "hill_tail_index",
    oracle=f"""
    WITH topk AS (
      SELECT c, row_number() OVER (ORDER BY c DESC) AS rn
      FROM (SELECT {_OP_CENTS} AS c FROM orders
            ORDER BY 1 DESC LIMIT {HILL_K + 1})
    ),
    thr AS (SELECT c AS xk FROM topk WHERE rn = {HILL_K + 1}),
    terms AS (
      SELECT CAST(floor(ln(t.c / CAST(thr.xk AS DOUBLE)) * 1000000 + 1e-3)
                  AS BIGINT) AS term_micro
      FROM topk t CROSS JOIN thr
      WHERE t.rn <= {HILL_K}
    ),
    s AS (SELECT CAST(sum(term_micro) AS BIGINT) AS sum_micro FROM terms),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_obs FROM orders)
    SELECT n.n_obs, {HILL_K} AS k,
           round(thr.xk / 100.0, 2) AS threshold,
           round(s.sum_micro / ({HILL_K} * 1000000.0), 6) AS hill_mean_log_excess,
           round({HILL_K} * 1000000.0 / s.sum_micro, 6) AS tail_index_alpha
    FROM s CROSS JOIN thr CROSS JOIN n
    """,
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the right-tail index of the order-price
    distribution over the top k=64 order statistics: mean log-excess
    over the (k+1)-th largest value, whose reciprocal is the Pareto
    tail exponent alpha (Hill 1975) — the heavy-tail diagnostic that
    says whether means/variances of spend (or document length, at the
    curation layer) are even stable enough to report.

    Scale shape: the ONLY data-sized step is the top-(k+1) selection,
    which Catalyst executes as TakeOrderedAndProject (per-partition
    partial top-k, merged — never a global sort); everything after is
    a 65-row program. Determinism: ties at the boundary don't matter
    (only the VALUES enter the estimator, and any tie-resolution keeps
    the same multiset); each log-excess is one ln() of a deterministic
    exact-integer ratio, floored to 1e-6 fixed point with the +1e-3
    nudge (the dsir discipline), so the k-term sum is an exact BIGINT
    add on both engines."""
    o = load(spark, sf_dir).orders
    topk = (
        o.select(F.expr(_OP_CENTS).alias("c"))
        .orderBy(F.col("c").desc())
        .limit(HILL_K + 1)
        .withColumn("rn", F.row_number().over(W.orderBy(F.col("c").desc())))
        .localCheckpoint(eager=True)
    )
    thr = topk.filter(F.col("rn") == HILL_K + 1).select(
        F.col("c").alias("xk")
    )
    term = F.floor(
        F.log(F.col("c") / F.col("xk").cast("double")) * 1_000_000 + 1e-3
    ).cast("bigint")
    s = (
        topk.filter(F.col("rn") <= HILL_K)
        .crossJoin(F.broadcast(thr))
        .select(term.alias("term_micro"))
        .agg(F.sum("term_micro").cast("long").alias("sum_micro"))
    )
    n = o.agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    return (
        s.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(n))
        .select(
            "n_obs",
            F.lit(HILL_K).alias("k"),
            F.round(F.col("xk") / 100.0, 2).alias("threshold"),
            F.round(
                F.col("sum_micro") / (HILL_K * 1_000_000.0), 6
            ).alias("hill_mean_log_excess"),
            F.round(
                HILL_K * 1_000_000.0 / F.col("sum_micro"), 6
            ).alias("tail_index_alpha"),
        )
    )


@register(
    "mann_whitney_u",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(sum({_EV_CENTS}) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    vals AS (
      SELECT c, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a
      FROM per_user GROUP BY c
    ),
    ranked AS (
      SELECT c, cnt, cnt_a,
             CAST(coalesce(sum(cnt) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_prev
      FROM vals
    ),
    agg AS (
      SELECT CAST(sum(cnt_a * (2 * cum_prev + cnt + 1)) AS BIGINT) AS r_a2,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term,
             CAST(sum(cnt_a) AS BIGINT) AS na,
             CAST(sum(cnt - cnt_a) AS BIGINT) AS nb
      FROM ranked
    ),
    u AS (
      SELECT na, nb, tie_term,
             r_a2 - na * (na + 1) AS u_a2,
             CAST(na AS DOUBLE) * nb / 12.0
               * ((na + nb + 1)
                  - tie_term / (CAST(na + nb AS DOUBLE) * (na + nb - 1)))
               AS var_u
      FROM agg
    )
    SELECT na AS n_a, nb AS n_b,
           round(u_a2 / 2.0, 1) AS u_a,
           round(CAST(na AS DOUBLE) * nb - u_a2 / 2.0, 1) AS u_b,
           tie_term,
           round((u_a2 - CAST(na AS DOUBLE) * nb) / (2.0 * sqrt(var_u)), 6)
             AS z_score
    FROM u
    """,
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between the hash-split
    arms on per-user spend — the nonparametric companion to
    ab_welch_ttest for skewed metrics where rank shift, not mean shift,
    is the honest question; includes the tie-corrected normal
    approximation z.

    Exactness: ranks never materialize per row — the distinct-value
    table carries (value, tie count, arm-A count), average tie ranks
    are kept DOUBLED so every rank sum is an exact BIGINT
    (2*avg_rank = 2*cum_prev + cnt + 1), and the tie correction
    sum(t³−t) is integer too; the only doubles are the final
    variance/z expressions, identical on both engines. Scale shape:
    one per-user pass, one distinct-value aggregate, one ordered
    prefix window over the (bounded-cardinality) value table."""
    e = load(spark, sf_dir).events
    cents = F.expr(_EV_CENTS)
    per_user = e.groupBy("user_id").agg(
        F.sum(cents).cast("long").alias("c")
    ).select(
        F.when(F.md5(F.col("user_id").cast("string")) < "8", "A")
        .otherwise("B")
        .alias("arm"),
        "c",
    )
    vals = per_user.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("long")
        .alias("cnt_a"),
    ).localCheckpoint(eager=True)  # bounded distinct-value table; the
    # two-phase ranking reads it several times — pin it so the events
    # fact table is scanned exactly once
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    # exclusive prefix count via the two-phase distributed ordering (the
    # distinct-value table is value-cardinality sized — a plain
    # ORDER BY window here would be the banned single-partition shape)
    ranked = global_order_stats(
        vals, "c", "c", measure_col="cnt", ascending=True
    ).withColumn(
        "cum_prev", (F.col("global_cum") - F.col("cnt")).cast("long")
    )
    agg = ranked.agg(
        F.sum(
            F.col("cnt_a") * (2 * F.col("cum_prev") + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("r_a2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie_term"),
        F.sum("cnt_a").cast("long").alias("na"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("long").alias("nb"),
    )
    nad = F.col("na").cast("double")
    u_a2 = F.col("r_a2") - F.col("na") * (F.col("na") + 1)
    n = F.col("na") + F.col("nb")
    var_u = (
        nad
        * F.col("nb")
        / 12.0
        * ((n + 1) - F.col("tie_term") / (n.cast("double") * (n - 1)))
    )
    return agg.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(u_a2 / 2.0, 1).alias("u_a"),
        F.round(nad * F.col("nb") - u_a2 / 2.0, 1).alias("u_b"),
        "tie_term",
        F.round((u_a2 - nad * F.col("nb")) / (2.0 * F.sqrt(var_u)), 6).alias(
            "z_score"
        ),
    )


@register(
    "ks_two_sample",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(sum({_EV_CENTS}) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    vals AS (
      SELECT c,
             CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM per_user GROUP BY c
    ),
    cums AS (
      SELECT c,
             CAST(sum(ca) OVER (ORDER BY c) AS BIGINT) AS cum_a,
             CAST(sum(cb) OVER (ORDER BY c) AS BIGINT) AS cum_b
      FROM vals
    ),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM vals
    ),
    gaps AS (
      SELECT c, abs(cum_a * nb - cum_b * na) AS gap_num
      FROM cums CROSS JOIN tot
    ),
    best AS (
      SELECT CAST(max(gap_num) AS BIGINT) AS d_num FROM gaps
    ),
    att AS (
      SELECT CAST(min(c) AS BIGINT) AS at_value_cents
      FROM gaps CROSS JOIN best WHERE gap_num = d_num
    )
    SELECT t.na AS n_a, t.nb AS n_b,
           round(b.d_num / (CAST(t.na AS DOUBLE) * t.nb), 6) AS ks_d,
           round(a.at_value_cents / 100.0, 2) AS at_value,
           round(sqrt((CAST(t.na AS DOUBLE) * t.nb) / (t.na + t.nb))
                 * (b.d_num / (CAST(t.na AS DOUBLE) * t.nb)), 6)
             AS scaled_statistic
    FROM best b CROSS JOIN tot t CROSS JOIN att a
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the arms'
    per-user spend distributions: D = max |F_A − F_B|, the value where
    the supremum is attained, and the sqrt(na·nb/n)·D scaled statistic
    consumers compare against the Kolmogorov critical values — the
    whole-distribution companion to ab_welch_ttest (means) and
    mann_whitney_u (ranks).

    Exactness: both ECDFs stay integer — the gap is compared as
    |cum_a·nb − cum_b·na| (exact cross-multiplied BIGINTs), so the
    argmax and the tie-break (smallest attaining value) are
    engine-exact; division by na·nb happens once at the end. Scale
    shape: one per-user pass, one distinct-value aggregate, ECDF
    prefix sums via the two-phase distributed ordering (one pass per
    arm), then O(1) rollups."""
    e = load(spark, sf_dir).events
    cents = F.expr(_EV_CENTS)
    per_user = e.groupBy("user_id").agg(
        F.sum(cents).cast("long").alias("c")
    ).select(
        F.when(F.md5(F.col("user_id").cast("string")) < "8", "A")
        .otherwise("B")
        .alias("arm"),
        "c",
    )
    vals = per_user.groupBy("c").agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    ).localCheckpoint(eager=True)  # read by two two-phase passes + totals
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    # inclusive ECDF prefix sums, one two-phase pass per arm (no
    # single-partition window over the value-cardinality table)
    ca_cum = global_order_stats(
        vals.select("c", "ca"), "c", "c", measure_col="ca", ascending=True
    ).select("c", F.col("global_cum").cast("long").alias("cum_a"))
    cb_cum = global_order_stats(
        vals.select("c", "cb"), "c", "c", measure_col="cb", ascending=True
    ).select(F.col("c").alias("c2"), F.col("global_cum").cast("long").alias("cum_b"))
    cums = ca_cum.join(cb_cum, F.col("c2") == F.col("c")).select(
        "c", "cum_a", "cum_b"
    )
    tot = vals.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    gaps = cums.crossJoin(F.broadcast(tot)).select(
        "c",
        "na",
        "nb",
        F.abs(
            F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")
        ).alias("gap_num"),
    )
    best = gaps.agg(F.max("gap_num").cast("long").alias("d_num"))
    att = (
        gaps.crossJoin(F.broadcast(best))
        .filter(F.col("gap_num") == F.col("d_num"))
        .agg(F.min("c").cast("long").alias("at_value_cents"))
    )
    nad = F.col("na").cast("double")
    d = F.col("d_num") / (nad * F.col("nb"))
    return (
        best.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(att))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.round(d, 6).alias("ks_d"),
            F.round(F.col("at_value_cents") / 100.0, 2).alias("at_value"),
            F.round(
                F.sqrt((nad * F.col("nb")) / (F.col("na") + F.col("nb"))) * d,
                6,
            ).alias("scaled_statistic"),
        )
    )


@register(
    "theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT n.n_name,
             date_diff('day', DATE '1996-01-01', CAST(o.o_orderdate AS DATE))
               AS d,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.n_name,
             (b.rev_c - a.rev_c) / (CAST(b.d AS DOUBLE) - a.d) AS slope,
             a.d AS d1, b.d AS d2
      FROM daily a JOIN daily b
        ON b.n_name = a.n_name AND b.d > a.d
    ),
    ranked AS (
      SELECT n_name, slope,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY slope, d1, d2) AS rn,
             count(*) OVER (PARTITION BY n_name) AS n_pairs
      FROM pairs
    ),
    meta AS (
      SELECT n_name, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
    )
    SELECT r.n_name AS nation, m.n_days,
           CAST(r.n_pairs AS BIGINT) AS n_pairs,
           round(r.slope / 100.0, 6) AS theil_sen_slope
    FROM ranked r JOIN meta m ON m.n_name = r.n_name
    WHERE r.rn = (r.n_pairs + 1) // 2
    ORDER BY nation
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of 1996 daily revenue per nation: the
    LOWER MEDIAN of all pairwise day-to-day slopes — the
    breakdown-point-29% alternative to groupwise_ols_trend's
    least-squares slope, immune to the outlier days OLS chases
    (Theil 1950 / Sen 1968).

    Scale shape: pairwise work is bounded by the TIME WINDOW, not the
    corpus — daily aggregation first (one fact pass), then ≤(365
    choose 2) pairs per nation generated by a nation-keyed self-join of
    the bounded daily table. Determinism: slopes are exact-integer
    differences in one double division; the median is the row_number
    lower median with a full (slope, d1, d2) tie-break order, so both
    engines select the identical pair even among equal slopes."""
    t = load(spark, sf_dir)
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    daily = (
        orders.join(t.customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t.nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(
            "n_name",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1996-01-01").cast("date"),
            ).alias("d"),
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("rev_c")
        )
        # bounded: <= nations x 366 rows; consumed by self-join + meta
        .localCheckpoint(eager=True)
    )
    a = daily.select(
        F.col("n_name"), F.col("d").alias("d1"), F.col("rev_c").alias("r1")
    )
    b = daily.select(
        F.col("n_name").alias("n2"),
        F.col("d").alias("d2"),
        F.col("rev_c").alias("r2"),
    )
    pairs = a.join(
        b, (F.col("n2") == F.col("n_name")) & (F.col("d2") > F.col("d1"))
    ).select(
        "n_name",
        ((F.col("r2") - F.col("r1")) / (F.col("d2").cast("double") - F.col("d1")))
        .alias("slope"),
        "d1",
        "d2",
    )
    wrank = W.partitionBy("n_name").orderBy("slope", "d1", "d2")
    wcnt = W.partitionBy("n_name")
    ranked = pairs.select(
        "n_name",
        "slope",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wcnt).alias("n_pairs"),
    ).filter(F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2).cast("long"))
    meta = daily.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        ranked.join(F.broadcast(meta), "n_name")
        .select(
            F.col("n_name").alias("nation"),
            "n_days",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round(F.col("slope") / 100.0, 6).alias("theil_sen_slope"),
        )
        .orderBy("nation")
    )


CONFORMAL_ALPHA = 0.1


@register(
    "conformal_interval_calibration",
    oracle="""
    WITH daily AS (
      SELECT n.n_name,
             date_diff('day', DATE '1996-01-01', CAST(o.o_orderdate AS DATE))
               AS d,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    fit AS (
      SELECT n_name,
             CAST(count(*) AS BIGINT) AS nf,
             CAST(sum(d) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(d * d) AS BIGINT) AS sxx,
             CAST(sum(d * y) AS BIGINT) AS sxy
      FROM daily WHERE d % 2 = 0 GROUP BY n_name
      HAVING count(*) >= 2 AND count(*) * sum(d * d) <> sum(d) * sum(d)
    ),
    coef AS (
      SELECT n_name, nf,
             (CAST(nf AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(nf AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b,
             (sy - (CAST(nf AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(nf AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * sx) / nf AS a
      FROM fit
    ),
    resid AS (
      SELECT c.n_name, c.nf, c.a, c.b,
             abs(dd.y - (c.a + c.b * dd.d)) AS r
      FROM coef c JOIN daily dd ON dd.n_name = c.n_name AND dd.d % 2 = 1
    ),
    ranked AS (
      SELECT n_name, nf, a, b, r,
             row_number() OVER (PARTITION BY n_name ORDER BY r) AS rn,
             count(*) OVER (PARTITION BY n_name) AS nc
      FROM resid
    ),
    q AS (
      SELECT n_name, nf, CAST(nc AS BIGINT) AS nc, a, b, r AS q_resid
      FROM ranked
      WHERE rn = least(CAST(ceil((nc + 1) * 0.9) AS BIGINT), nc)
    ),
    cov AS (
      SELECT r.n_name,
             CAST(sum(CASE WHEN r.r <= q.q_resid THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_covered
      FROM resid r JOIN q ON q.n_name = r.n_name
      GROUP BY r.n_name
    )
    SELECT q.n_name AS nation, q.nf AS n_fit, q.nc AS n_cal,
           round(q.b / 100.0, 6) AS slope,
           round(q.q_resid / 100.0, 2) AS q90_resid,
           c.n_covered,
           round(c.n_covered / CAST(q.nc AS DOUBLE), 4) AS cal_coverage,
           CASE WHEN c.n_covered * 10 >= q.nc * 9 THEN 1 ELSE 0 END
             AS covers_target
    FROM q JOIN cov c ON c.n_name = q.n_name
    ORDER BY nation
    """,
)
def conformal_interval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals per nation (Vovk / Lei et
    al.): fit the 1996 daily-revenue OLS trend on EVEN days, take the
    ceil((n+1)·0.9)-th smallest absolute residual on the disjoint ODD
    days as the 90% conformal radius, and report the achieved
    calibration coverage — which is >= 90% on the calibration split BY
    CONSTRUCTION (test-pinned), the distribution-free guarantee that
    makes conformal the default uncertainty wrapper for any point
    forecaster.

    Determinism: OLS coefficients come from exact bigint moment sums in
    one identical double expression (the cuped discipline); residual
    ranking and the conformal order statistic are plain row_number over
    deterministic doubles; the coverage gate is the exact integer
    inequality 10·covered >= 9·n_cal. Scale shape: one fact pass to
    bounded daily cells, per-nation moment rollups, and windows over
    <=183-row calibration slivers — nothing corpus-sized past the
    first aggregate."""
    t = load(spark, sf_dir)
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    daily = (
        orders.join(t.customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t.nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(
            "n_name",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1996-01-01").cast("date"),
            ).alias("d"),
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("y")
        )
        .localCheckpoint(eager=True)
    )
    fit = (
        daily.filter(F.col("d") % 2 == 0)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nf"),
            F.sum("d").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("d") * F.col("d")).cast("long").alias("sxx"),
            F.sum(F.col("d") * F.col("y")).cast("long").alias("sxy"),
        )
        .filter(
            (F.col("nf") >= 2)
            & (F.col("nf") * F.col("sxx") != F.col("sx") * F.col("sx"))
        )
    )
    nfd = F.col("nf").cast("double")
    sxd = F.col("sx").cast("double")
    b = (nfd * F.col("sxy") - sxd * F.col("sy")) / (
        nfd * F.col("sxx") - sxd * F.col("sx")
    )
    coef = fit.select(
        "n_name", "nf", b.alias("b"), ((F.col("sy") - b * F.col("sx")) / F.col("nf")).alias("a")
    )
    resid = (
        coef.join(daily.filter(F.col("d") % 2 == 1), "n_name")
        .select(
            "n_name",
            "nf",
            "a",
            "b",
            F.abs(F.col("y") - (F.col("a") + F.col("b") * F.col("d"))).alias("r"),
        )
        .localCheckpoint(eager=True)
    )
    wr = W.partitionBy("n_name").orderBy("r")
    wc = W.partitionBy("n_name")
    q = (
        resid.select(
            "n_name",
            "nf",
            "a",
            "b",
            "r",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wc).cast("long").alias("nc"),
        )
        .filter(
            F.col("rn")
            == F.least(
                F.ceil((F.col("nc") + 1) * 0.9).cast("long"), F.col("nc")
            )
        )
        .select("n_name", "nf", "nc", "a", "b", F.col("r").alias("q_resid"))
    )
    cov = (
        resid.join(F.broadcast(q.select("n_name", "q_resid")), "n_name")
        .groupBy("n_name")
        .agg(
            F.sum(F.when(F.col("r") <= F.col("q_resid"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered")
        )
    )
    return (
        q.join(cov, "n_name")
        .select(
            F.col("n_name").alias("nation"),
            F.col("nf").alias("n_fit"),
            F.col("nc").alias("n_cal"),
            F.round(F.col("b") / 100.0, 6).alias("slope"),
            F.round(F.col("q_resid") / 100.0, 2).alias("q90_resid"),
            "n_covered",
            F.round(F.col("n_covered") / F.col("nc").cast("double"), 4).alias(
                "cal_coverage"
            ),
            F.when(F.col("n_covered") * 10 >= F.col("nc") * 9, 1)
            .otherwise(0)
            .alias("covers_target"),
        )
        .orderBy("nation")
    )


@register(
    "binseg_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    pre AS (
      SELECT day, y,
             CAST(sum(y) OVER (ORDER BY day) AS BIGINT) AS sl,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS nl
      FROM daily
    ),
    tot AS (
      SELECT CAST(sum(y) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      FROM daily
    ),
    scored AS (
      SELECT p.day, p.sl, p.nl, t.s - p.sl AS sr, t.n - p.nl AS nr, t.s, t.n,
             CAST(p.sl AS DOUBLE) * p.sl / p.nl
               + CAST(t.s - p.sl AS DOUBLE) * (t.s - p.sl) / (t.n - p.nl)
               AS f
      FROM pre p CROSS JOIN tot t
      WHERE p.nl < t.n
    ),
    best AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (ORDER BY f DESC, day) AS rn FROM scored
      ) WHERE rn = 1
    )
    SELECT CAST(day AS VARCHAR) AS split_after_day,
           nl AS n_left, nr AS n_right,
           round(sl / CAST(nl AS DOUBLE), 6) AS mean_left,
           round(sr / CAST(nr AS DOUBLE), 6) AS mean_right,
           round(f - CAST(s AS DOUBLE) * s / n, 6) AS sse_reduction
    FROM best
    """,
)
def binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint over the daily order-count
    series: the split that maximizes the between-segment SSE reduction
    — since SSE = Σy² − S²/n, the y² term cancels and the objective
    reduces to f(t) = S_L²/n_L + S_R²/n_R, so the scan needs only ONE
    prefix sum over exact integer daily counts (Scott & Knott 1974
    binary segmentation; the location complement to cusum_changepoint's
    drift detector).

    Determinism: S_L/n_L are exact BIGINTs from one ordered window over
    the bounded daily table; f(t) is products of exact integers in
    IEEE double — bit-identical across engines — and the argmax
    tie-breaks on the earlier day. Scale shape: one fact-table date
    rollup, one window over ~#days rows, one O(1) pick."""
    o = load(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    wpre = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    pre = daily.select(
        "day",
        F.sum("y").over(wpre).cast("long").alias("sl"),
        F.row_number().over(W.orderBy("day")).cast("long").alias("nl"),
    )
    tot = daily.agg(
        F.sum("y").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    sld = F.col("sl").cast("double")
    srd = (F.col("s") - F.col("sl")).cast("double")
    scored = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("nl") < F.col("n"))
        .select(
            "day",
            "sl",
            "nl",
            (F.col("s") - F.col("sl")).alias("sr"),
            (F.col("n") - F.col("nl")).alias("nr"),
            "s",
            "n",
            (
                sld * F.col("sl") / F.col("nl")
                + srd * (F.col("s") - F.col("sl")) / (F.col("n") - F.col("nl"))
            ).alias("f"),
        )
    )
    best = (
        scored.withColumn(
            "rn", F.row_number().over(W.orderBy(F.col("f").desc(), "day"))
        )
        .filter(F.col("rn") == 1)
    )
    return best.select(
        F.col("day").cast("string").alias("split_after_day"),
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        F.round(F.col("sl") / F.col("nl").cast("double"), 6).alias("mean_left"),
        F.round(F.col("sr") / F.col("nr").cast("double"), 6).alias("mean_right"),
        F.round(
            F.col("f") - F.col("s").cast("double") * F.col("s") / F.col("n"), 6
        ).alias("sse_reduction"),
    )


# Newsvendor cost weights: underage (lost margin) 3, overage (holding) 1
# -> critical ratio 3/4, so q* is the smallest q with F(q) >= 0.75.
NV_CU = 3
NV_CO = 1


@register(
    "newsvendor_order_quantity",
    oracle=f"""
    WITH weekly AS (
      SELECT p.p_brand AS brand, date_trunc('week', l.l_shipdate) AS wk,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT brand, d,
             row_number() OVER (PARTITION BY brand ORDER BY d, wk) AS rn,
             count(*) OVER (PARTITION BY brand) AS n
      FROM weekly
    ),
    qstar AS (
      SELECT brand, CAST(n AS BIGINT) AS n_weeks, d AS q_star
      FROM ranked
      WHERE rn = ({NV_CU} * n + {NV_CU + NV_CO - 1}) // {NV_CU + NV_CO}
    ),
    naive AS (
      SELECT brand,
             CAST((2 * sum(d) + count(*)) // (2 * count(*)) AS BIGINT)
               AS q_naive
      FROM weekly GROUP BY brand
    ),
    costs AS (
      SELECT w.brand,
             CAST(sum({NV_CO} * greatest(q.q_star - w.d, 0)
                      + {NV_CU} * greatest(w.d - q.q_star, 0))
                  AS BIGINT) AS cost_qstar,
             CAST(sum({NV_CO} * greatest(nv.q_naive - w.d, 0)
                      + {NV_CU} * greatest(w.d - nv.q_naive, 0))
                  AS BIGINT) AS cost_naive
      FROM weekly w
      JOIN qstar q ON q.brand = w.brand
      JOIN naive nv ON nv.brand = w.brand
      GROUP BY w.brand
    )
    SELECT q.brand, q.n_weeks, q.q_star, nv.q_naive,
           c.cost_qstar, c.cost_naive,
           round((c.cost_naive - c.cost_qstar) * 100.0
                 / greatest(c.cost_naive, 1), 6) AS saving_pct
    FROM qstar q
    JOIN naive nv ON nv.brand = q.brand
    JOIN costs c ON c.brand = q.brand
    ORDER BY q.brand
    """,
)
def newsvendor_order_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor optimal order quantity per brand from the empirical
    weekly-demand distribution: with underage cost 3 and overage cost 1
    the critical ratio is 3/4, so q* is the ceil(3n/4)-th smallest
    weekly demand — evaluated against the naive order-the-mean policy
    with both policies' exact empirical costs (the classic result that
    the profit-maximizing stock level is a QUANTILE, not the mean;
    Arrow-Harris-Marschak 1951).

    Everything is exact integers: demands are summed BIGINT quantities,
    the critical order statistic uses the integer identity
    ceil(3n/4) = (3n+3)//4, costs are integer-weighted piecewise sums,
    and the only double is the final saving percentage. Scale shape:
    one fact pass to the bounded (brand, week) table; per-brand windows
    over week-count slivers; two broadcast-sized policy joins."""
    t = load(spark, sf_dir)
    weekly = (
        t.lineitem.join(t.part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("week", F.col("l_shipdate")).alias("wk"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    wr = W.partitionBy("brand").orderBy("d", "wk")
    wn = W.partitionBy("brand")
    k = F.expr(
        f"({NV_CU} * n + {NV_CU + NV_CO - 1}) div {NV_CU + NV_CO}"
    )
    qstar = (
        weekly.select(
            "brand",
            "d",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == k)
        .select(
            "brand",
            F.col("n").cast("long").alias("n_weeks"),
            F.col("d").alias("q_star"),
        )
    )
    naive = (
        weekly.groupBy("brand")
        .agg(
            F.sum("d").cast("long").alias("sd"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        # round-half-up integer mean, exact: (2S + n) div (2n)
        .select("brand", F.expr("(2 * sd + cnt) div (2 * cnt)").cast("long").alias("q_naive"))
    )
    costs = (
        weekly.join(qstar.select("brand", "q_star"), "brand")
        .join(naive, "brand")
        .groupBy("brand")
        .agg(
            F.sum(
                NV_CO * F.greatest(F.col("q_star") - F.col("d"), F.lit(0))
                + NV_CU * F.greatest(F.col("d") - F.col("q_star"), F.lit(0))
            )
            .cast("long")
            .alias("cost_qstar"),
            F.sum(
                NV_CO * F.greatest(F.col("q_naive") - F.col("d"), F.lit(0))
                + NV_CU * F.greatest(F.col("d") - F.col("q_naive"), F.lit(0))
            )
            .cast("long")
            .alias("cost_naive"),
        )
    )
    return (
        qstar.join(naive, "brand")
        .join(costs, "brand")
        .select(
            "brand",
            "n_weeks",
            "q_star",
            "q_naive",
            "cost_qstar",
            "cost_naive",
            F.round(
                (F.col("cost_naive") - F.col("cost_qstar"))
                * 100.0
                / F.greatest(F.col("cost_naive"), F.lit(1)),
                6,
            ).alias("saving_pct"),
        )
        .orderBy("brand")
    )


@register(
    "diff_in_diff",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}'
                           THEN {_EV_CENTS} ELSE 0 END) AS BIGINT) AS pre_c,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                           THEN {_EV_CENTS} ELSE 0 END) AS BIGINT) AS post_c
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(sum(CASE WHEN arm = 'A' THEN pre_c ELSE 0 END) AS BIGINT) AS pa,
             CAST(sum(CASE WHEN arm = 'B' THEN pre_c ELSE 0 END) AS BIGINT) AS pb,
             CAST(sum(CASE WHEN arm = 'A' THEN post_c ELSE 0 END) AS BIGINT) AS qa,
             CAST(sum(CASE WHEN arm = 'B' THEN post_c ELSE 0 END) AS BIGINT) AS qb,
             CAST(sum(CASE WHEN arm = 'A'
                           THEN (post_c - pre_c) * (post_c - pre_c)
                           ELSE 0 END) AS BIGINT) AS dda,
             CAST(sum(CASE WHEN arm = 'B'
                           THEN (post_c - pre_c) * (post_c - pre_c)
                           ELSE 0 END) AS BIGINT) AS ddb
      FROM per_user
    ),
    x AS (
      SELECT na, nb,
             pa / (CAST(na AS DOUBLE) * 100) AS pre_a,
             pb / (CAST(nb AS DOUBLE) * 100) AS pre_b,
             qa / (CAST(na AS DOUBLE) * 100) AS post_a,
             qb / (CAST(nb AS DOUBLE) * 100) AS post_b,
             (CAST(na AS DOUBLE) * dda - CAST(qa - pa AS DOUBLE) * (qa - pa))
               / (CAST(na AS DOUBLE) * (na - 1)) / 10000.0 / na AS sq_a,
             (CAST(nb AS DOUBLE) * ddb - CAST(qb - pb AS DOUBLE) * (qb - pb))
               / (CAST(nb AS DOUBLE) * (nb - 1)) / 10000.0 / nb AS sq_b
      FROM m
    )
    SELECT na AS n_a, nb AS n_b,
           round(pre_a, 6) AS pre_a, round(post_a, 6) AS post_a,
           round(pre_b, 6) AS pre_b, round(post_b, 6) AS post_b,
           round((post_b - pre_b) - (post_a - pre_a), 6) AS did_estimate,
           round(CASE WHEN sq_a + sq_b = 0 THEN 0.0
                      ELSE ((post_b - pre_b) - (post_a - pre_a))
                           / sqrt(sq_a + sq_b) END, 6) AS t_stat
    FROM x
    """,
)
def diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the hash-split panel: each user is
    observed pre and post the 2024-01-15 cutover (ab_cuped_adjustment's
    periods), so DiD = (post_B − pre_B) − (post_A − pre_A) removes both
    the arm-level baseline and the common time shock — the workhorse
    causal estimator when assignment isn't randomized; its t uses the
    per-arm variance of the user-level CHANGE post−pre (the panel form,
    which differences out user fixed effects).

    Same one-pass discipline as ab_welch_ttest: exact bigint per-arm
    moment sums (now including Σ(post−pre)²), every statistic a single
    identical double expression, degenerate variances guarded by a
    CASE. Scale shape: one per-user aggregate, one 1-row rollup."""
    e = load(spark, sf_dir).events
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    cents = F.expr(_EV_CENTS)
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, cents).otherwise(0))
        .cast("long")
        .alias("pre_c"),
        F.sum(F.when(F.col("ts") >= split, cents).otherwise(0))
        .cast("long")
        .alias("post_c"),
    ).select(
        F.when(F.md5(F.col("user_id").cast("string")) < "8", "A")
        .otherwise("B")
        .alias("arm"),
        "pre_c",
        "post_c",
    )
    d = F.col("post_c") - F.col("pre_c")
    s_if = lambda a, c: F.sum(F.when(F.col("arm") == a, c).otherwise(0)).cast("long")
    m = per_user.agg(
        s_if("A", F.lit(1)).alias("na"),
        s_if("B", F.lit(1)).alias("nb"),
        s_if("A", F.col("pre_c")).alias("pa"),
        s_if("B", F.col("pre_c")).alias("pb"),
        s_if("A", F.col("post_c")).alias("qa"),
        s_if("B", F.col("post_c")).alias("qb"),
        s_if("A", d * d).alias("dda"),
        s_if("B", d * d).alias("ddb"),
    )
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    da = (F.col("qa") - F.col("pa")).cast("double")
    db = (F.col("qb") - F.col("pb")).cast("double")
    x = m.select(
        "na",
        "nb",
        (F.col("pa") / (nad * 100)).alias("pre_a"),
        (F.col("pb") / (nbd * 100)).alias("pre_b"),
        (F.col("qa") / (nad * 100)).alias("post_a"),
        (F.col("qb") / (nbd * 100)).alias("post_b"),
        (
            (nad * F.col("dda") - da * (F.col("qa") - F.col("pa")))
            / (nad * (F.col("na") - 1))
            / 10000.0
            / F.col("na")
        ).alias("sq_a"),
        (
            (nbd * F.col("ddb") - db * (F.col("qb") - F.col("pb")))
            / (nbd * (F.col("nb") - 1))
            / 10000.0
            / F.col("nb")
        ).alias("sq_b"),
    )
    did = (F.col("post_b") - F.col("pre_b")) - (F.col("post_a") - F.col("pre_a"))
    se2 = F.col("sq_a") + F.col("sq_b")
    return x.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round("pre_a", 6).alias("pre_a"),
        F.round("post_a", 6).alias("post_a"),
        F.round("pre_b", 6).alias("pre_b"),
        F.round("post_b", 6).alias("post_b"),
        F.round(did, 6).alias("did_estimate"),
        F.round(
            F.when(se2 == 0, 0.0).otherwise(did / F.sqrt(se2)), 6
        ).alias("t_stat"),
    )


@register(
    "kendall_tau_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN (a.n - b.n) * (a.rev - b.rev) > 0 THEN 1 ELSE 0 END AS c,
             CASE WHEN (a.n - b.n) * (a.rev - b.rev) < 0 THEN 1 ELSE 0 END AS d,
             CASE WHEN a.n = b.n AND a.rev <> b.rev THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.rev = b.rev AND a.n <> b.n THEN 1 ELSE 0 END AS ty
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    agg AS (
      SELECT CAST(sum(c) AS BIGINT) AS nc, CAST(sum(d) AS BIGINT) AS nd,
             CAST(sum(tx) AS BIGINT) AS ntx, CAST(sum(ty) AS BIGINT) AS nty,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs
    )
    SELECT n_pairs, nc AS concordant, nd AS discordant,
           ntx AS ties_x_only, nty AS ties_y_only,
           round((nc - nd) / sqrt((CAST(n_pairs AS DOUBLE) - ntx)
                                  * (CAST(n_pairs AS DOUBLE) - nty)), 6)
             AS tau_b
    FROM agg
    """,
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b rank correlation between daily 1996 order count
    and daily revenue — the outlier-immune alternative to Pearson
    (acf/correlation_matrix) built from concordant/discordant pair
    counts, with the τ-b tie correction.

    Exactness: every pair classification is an exact integer sign test
    ((Δn)·(Δrev) > 0 on BIGINTs), so concordant/discordant/tie counts
    are exact; τ-b is one double expression over them. Scale shape:
    pairwise work is bounded by the TIME WINDOW (≤366·365/2 pairs —
    SF-independent), after one fact-table date rollup; the same
    bounded-pairs discipline as theil_sen_trend."""
    o = load(spark, sf_dir).orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("rev"),
        )
        .localCheckpoint(eager=True)
    )
    a = daily.select(
        F.col("day").alias("d1"), F.col("n").alias("n1"), F.col("rev").alias("r1")
    )
    b = daily.select(
        F.col("day").alias("d2"), F.col("n").alias("n2"), F.col("rev").alias("r2")
    )
    prod = (F.col("n1") - F.col("n2")) * (F.col("r1") - F.col("r2"))
    agg = (
        a.join(b, F.col("d1") < F.col("d2"))
        .select(
            F.when(prod > 0, 1).otherwise(0).alias("c"),
            F.when(prod < 0, 1).otherwise(0).alias("d"),
            F.when(
                (F.col("n1") == F.col("n2")) & (F.col("r1") != F.col("r2")), 1
            )
            .otherwise(0)
            .alias("tx"),
            F.when(
                (F.col("r1") == F.col("r2")) & (F.col("n1") != F.col("n2")), 1
            )
            .otherwise(0)
            .alias("ty"),
        )
        .agg(
            F.sum("c").cast("long").alias("nc"),
            F.sum("d").cast("long").alias("nd"),
            F.sum("tx").cast("long").alias("ntx"),
            F.sum("ty").cast("long").alias("nty"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    npd = F.col("n_pairs").cast("double")
    return agg.select(
        "n_pairs",
        F.col("nc").alias("concordant"),
        F.col("nd").alias("discordant"),
        F.col("ntx").alias("ties_x_only"),
        F.col("nty").alias("ties_y_only"),
        F.round(
            (F.col("nc") - F.col("nd"))
            / F.sqrt((npd - F.col("ntx")) * (npd - F.col("nty"))),
            6,
        ).alias("tau_b"),
    )


@register(
    "durbin_watson_residuals",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1996-01-01', CAST(o_orderdate AS DATE))
               AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy, CAST(sum(d * d) AS BIGINT) AS sxx,
             CAST(sum(d * y) AS BIGINT) AS sxy
      FROM daily
    ),
    coef AS (
      SELECT n,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b,
             (sy - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * sx) / n AS a
      FROM m
    ),
    resid AS (
      SELECT d, y - (c.a + c.b * d) AS e FROM daily CROSS JOIN coef c
    ),
    lagged AS (
      SELECT e, lag(e) OVER (ORDER BY d) AS ep FROM resid
    )
    SELECT (SELECT n FROM coef) AS n_days,
           round((SELECT b FROM coef) / 100.0, 6) AS slope,
           round(sum(CASE WHEN ep IS NULL THEN 0.0
                          ELSE (e - ep) * (e - ep) END)
                 / sum(e * e), 6) AS durbin_watson
    FROM lagged
    """,
)
def durbin_watson_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation statistic of the 1996 daily-revenue
    OLS trend residuals: DW = Σ(e_t − e_{t−1})² / Σe_t² — near 2 means
    the trend line left white noise, near 0 says positive serial
    correlation (the trend is missing structure, e.g. weekly
    seasonality), the go/no-go check before trusting OLS standard
    errors (Durbin & Watson 1950).

    Determinism: coefficients from exact bigint moment sums (the
    conformal/cuped discipline); residuals are identical doubles on
    both engines, and DW's two quadratic sums run over the SAME
    bounded daily table in one lag window — ≤366 terms, both sums
    whole-double-ulp stable at this magnitude (the e² terms span <3
    decades, no catastrophic cancellation). Scale shape: one fact
    rollup, one O(1) moment pass, one ordered lag window."""
    o = load(spark, sf_dir).orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    daily = (
        o.groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1996-01-01").cast("date"),
            ).alias("d")
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("y")
        )
        .localCheckpoint(eager=True)
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sxx"),
        F.sum(F.col("d") * F.col("y")).cast("long").alias("sxy"),
    )
    ndb = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    b = (ndb * F.col("sxy") - sxd * F.col("sy")) / (
        ndb * F.col("sxx") - sxd * F.col("sx")
    )
    coef = m.select(
        "n", b.alias("b"), ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a")
    )
    resid = daily.crossJoin(F.broadcast(coef)).select(
        "d", "n", "b", (F.col("y") - (F.col("a") + F.col("b") * F.col("d"))).alias("e")
    )
    lagged = resid.withColumn("ep", F.lag("e").over(W.orderBy("d")))
    return (
        lagged.groupBy("n", "b")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("ep").isNull(), 0.0).otherwise(
                        (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep"))
                    )
                )
                / F.sum(F.col("e") * F.col("e")),
                6,
            ).alias("durbin_watson")
        )
        .select(
            F.col("n").alias("n_days"),
            F.round(F.col("b") / 100.0, 6).alias("slope"),
            "durbin_watson",
        )
    )


@register(
    "lorenz_curve_deciles",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                             AS BIGINT) AS c
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT c,
             row_number() OVER (ORDER BY c, o_custkey) AS rn,
             count(*) OVER () AS n,
             CAST(sum(c) OVER (ORDER BY c, o_custkey) AS BIGINT) AS cum,
             CAST(sum(c) OVER () AS BIGINT) AS tot
      FROM per_cust
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(max(rn) AS BIGINT) AS n_customers,
           CAST(max(cum) AS BIGINT) AS cum_cents,
           round(max(cum) / CAST(max(tot) AS DOUBLE), 6) AS cum_share
    FROM (SELECT rn, cum, tot, (rn * 10 - 1) // n + 1 AS decile FROM ranked)
    GROUP BY decile
    ORDER BY decile
    """,
)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend at decile resolution — the
    curve behind gini_customer_spend: customers sorted poorest-first,
    each decile reporting its cumulative share of total spend (the
    "bottom 50% hold X%" numbers an inequality report quotes).

    Exactness: cumulative cents are exact BIGINT prefix sums with a
    full (spend, custkey) tie-break order; decile assignment is the
    integer identity (rn·10−1)//n + 1 (largest-remainder-free, exact);
    the only double is the final share. Scale shape: one fact rollup,
    then rank + prefix sum via ranking.global_order_stats' two-phase
    range-partitioned form — NO single-partition window — and a 10-row
    rollup."""
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    o = load(spark, sf_dir).orders
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
        .cast("long")
        .alias("c")
    )
    ranked = global_order_stats(
        per_cust, "c", "o_custkey", measure_col="c", ascending=True
    ).select(
        F.col("global_rank").alias("rn"),
        F.col("global_cum").cast("long").alias("cum"),
    )
    tots = per_cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("tot"),
    )
    return (
        ranked.crossJoin(F.broadcast(tots))
        .select(
            F.expr("(rn * 10 - 1) div n + 1").cast("long").alias("decile"),
            "rn",
            "cum",
            "tot",
        )
        .groupBy("decile")
        .agg(
            F.max("rn").cast("long").alias("n_customers"),
            F.max("cum").cast("long").alias("cum_cents"),
            F.round(
                F.max("cum") / F.max("tot").cast("double"), 6
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


@register(
    "simpson_diversity_by_source",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    vc AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    agg AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c * (c - 1)) AS BIGINT) AS pairs_same
      FROM vc GROUP BY source
    )
    SELECT source, n AS n_tokens, n_types,
           round(pairs_same / (CAST(n AS DOUBLE) * (n - 1)), 6)
             AS simpson_lambda,
           round((CAST(n AS DOUBLE) * (n - 1)) / pairs_same, 6)
             AS inverse_simpson
    FROM agg
    ORDER BY source
    """,
)
def simpson_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity of each source's token distribution: λ = the
    probability two random tokens coincide, Σc(c−1)/(N(N−1)) — and its
    inverse, the "effective vocabulary size" — the ecology-standard
    concentration measure that, unlike entropy, is an exact RATIONAL of
    the counts (no logs anywhere), complementing column_entropy_profile
    and hapax_ratio_by_source in the corpus-diversity panel.

    One token pass to the (source, type) count table, one rollup; both
    outputs are one double division of exact BIGINTs. Degenerate
    single-token sources would zero the denominator — impossible here
    (every synthetic doc has tokens), and the oracle would fail loudly
    rather than silently diverge if that assumption broke."""
    d = load(spark, sf_dir).documents
    from data_warehouse_data_mining_spark.functions import texthash as th

    vc = (
        d.select("source", F.explode(th.words(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = vc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("pairs_same"),
    )
    ndb = F.col("n").cast("double")
    return agg.select(
        "source",
        F.col("n").alias("n_tokens"),
        "n_types",
        F.round(F.col("pairs_same") / (ndb * (F.col("n") - 1)), 6).alias(
            "simpson_lambda"
        ),
        F.round((ndb * (F.col("n") - 1)) / F.col("pairs_same"), 6).alias(
            "inverse_simpson"
        ),
    ).orderBy("source")


HURST_WINDOWS = [16, 32, 64]
_HURST_LNW = {16: 2.772588722239781, 32: 3.4657359027997265, 64: 4.1588830833596715}


def _hurst_oracle() -> str:
    lnw_case = " ".join(
        f"WHEN {w} THEN {_HURST_LNW[w]!r}" for w in HURST_WINDOWS
    )
    ws = ", ".join(str(w) for w in HURST_WINDOWS)
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
      FROM daily
    ),
    blocks AS (
      SELECT w.w, (i - 1) // w.w AS blk, y,
             CAST(row_number() OVER (PARTITION BY w.w, (i - 1) // w.w
                                     ORDER BY i) AS BIGINT) AS k,
             CAST(sum(y) OVER (PARTITION BY w.w, (i - 1) // w.w
                               ORDER BY i) AS BIGINT) AS pk
      FROM idx CROSS JOIN (SELECT unnest([{ws}]) AS w) w
    ),
    blocks2 AS (
      SELECT w, blk, y,
             w * pk - k * (sum(y) OVER (PARTITION BY w, blk)) AS wz
      FROM blocks
    ),
    per_block AS (
      SELECT w, blk,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS s,
             CAST(sum(y * y) AS BIGINT) AS ss,
             CAST(max(wz) AS BIGINT) AS wz_max,
             CAST(min(wz) AS BIGINT) AS wz_min
      FROM blocks2 GROUP BY w, blk
    ),
    rs AS (
      SELECT w, blk,
             CAST(floor(ln((greatest(wz_max, 0) - least(wz_min, 0))
                           / sqrt(CAST(w * ss - s * s AS DOUBLE)))
                        * 1000000 + 1e-3) AS BIGINT) AS lrs_micro
      FROM per_block
      WHERE cnt = w AND w * ss - s * s > 0
            AND greatest(wz_max, 0) - least(wz_min, 0) > 0
    ),
    per_w AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(lrs_micro) AS BIGINT) AS sum_micro,
             CASE w {lnw_case} END AS lnw
      FROM rs GROUP BY w
    ),
    fit AS (
      SELECT count(*) AS k,
             sum(lnw) AS sx, sum(sum_micro / (1000000.0 * n_blocks)) AS sy,
             sum(lnw * lnw) AS sxx,
             sum(lnw * sum_micro / (1000000.0 * n_blocks)) AS sxy
      FROM per_w
    )
    SELECT p.w, p.n_blocks,
           round(p.sum_micro / (1000000.0 * p.n_blocks), 6) AS mean_log_rs,
           round((f.k * f.sxy - f.sx * f.sy)
                 / (f.k * f.sxx - f.sx * f.sx), 6) AS hurst_exponent
    FROM per_w p CROSS JOIN fit f
    ORDER BY p.w
    """


@register("hurst_rescaled_range", oracle=_hurst_oracle())
def hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily order-count series by classic
    rescaled-range (R/S) analysis (Hurst 1951, Mandelbrot-Wallis form):
    tumbling blocks of w=16/32/64 days, per block the range of
    mean-centered cumulative deviations over the population std, then H
    = the log-log OLS slope of mean ln(R/S) against ln(w) — H≈0.5 is a
    memoryless walk, H>0.5 long-range persistence (trending demand),
    H<0.5 mean reversion; the long-memory companion to acf/DW.

    Exactness discipline: inside each block the centered cumulative
    deviation is kept as the exact integer w·Z_k = w·P_k − k·S, the
    range and w²·variance are exact BIGINTs, each block contributes ONE
    ln() of a deterministic double (floored to 1e-6 micro units with
    the +1e-3 nudge), per-w means stay integer until one division, and
    the ln(w) regressors are baked literals — so the 3-point OLS slope
    is a single identical double expression. Degenerate blocks (zero
    variance or zero range) are excluded by exact integer guards on
    BOTH engines. Scale shape: one fact rollup, windows over the
    3×#days exploded table, O(1) fits."""
    o = load(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    idx = daily.select(
        "y", F.row_number().over(W.orderBy("day")).cast("long").alias("i")
    )
    ws = F.explode(F.array(*[F.lit(w) for w in HURST_WINDOWS])).alias("w")
    blocks = idx.select("y", "i", ws).select(
        "w",
        F.expr("(i - 1) div w").alias("blk"),
        "y",
        "i",
    )
    wb = W.partitionBy("w", "blk").orderBy("i")
    blocks = blocks.select(
        "w",
        "blk",
        "y",
        F.row_number().over(wb).cast("long").alias("k"),
        F.sum("y").over(wb.rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("pk"),
    )
    wball = W.partitionBy("w", "blk")
    wz = F.col("w") * F.col("pk") - F.col("k") * F.sum("y").over(wball)
    per_block = (
        blocks.select(
            "w", "blk", "y", wz.alias("wz")
        )
        .groupBy("w", "blk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("y").cast("long").alias("s"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
            F.max("wz").cast("long").alias("wz_max"),
            F.min("wz").cast("long").alias("wz_min"),
        )
    )
    rng = F.greatest(F.col("wz_max"), F.lit(0)) - F.least(
        F.col("wz_min"), F.lit(0)
    )
    varw = F.col("w") * F.col("ss") - F.col("s") * F.col("s")
    rs = (
        per_block.filter(
            (F.col("cnt") == F.col("w")) & (varw > 0) & (rng > 0)
        )
        .select(
            "w",
            F.floor(
                F.log(rng / F.sqrt(varw.cast("double"))) * 1_000_000 + 1e-3
            )
            .cast("bigint")
            .alias("lrs_micro"),
        )
    )
    lnw = F.create_map(
        *[x for w in HURST_WINDOWS for x in (F.lit(w), F.lit(_HURST_LNW[w]))]
    )[F.col("w")]
    per_w = (
        rs.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum("lrs_micro").cast("long").alias("sum_micro"),
        )
        .select("w", "n_blocks", "sum_micro", lnw.alias("lnw"))
        .localCheckpoint(eager=True)
    )
    ybar = F.col("sum_micro") / (1_000_000.0 * F.col("n_blocks"))
    fit = per_w.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("lnw").alias("sx"),
        F.sum(ybar).alias("sy"),
        F.sum(F.col("lnw") * F.col("lnw")).alias("sxx"),
        F.sum(F.col("lnw") * ybar).alias("sxy"),
    )
    return (
        per_w.crossJoin(F.broadcast(fit))
        .select(
            "w",
            "n_blocks",
            F.round(ybar, 6).alias("mean_log_rs"),
            F.round(
                (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")),
                6,
            ).alias("hurst_exponent"),
        )
        .orderBy("w")
    )


LB_H = 10  # Ljung-Box horizon
# chi-square 95th-percentile ladder for df = 1..10, baked to 4 dp so
# neither engine evaluates an inverse-CDF (the bh_fdr z-ladder rule)
LB_CHI2_95 = (
    3.8415, 5.9915, 7.8147, 9.4877, 11.0705,
    12.5916, 14.0671, 15.5073, 16.9190, 18.3070,
)
_LB_CRIT_VALUES = ", ".join(
    f"({i + 1}, {c})" for i, c in enumerate(LB_CHI2_95)
)


@register(
    "ljung_box_whiteness",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS s
          FROM daily),
    a AS (
      SELECT day,
             CAST(n AS DECIMAL(38,0)) * x - CAST(s AS DECIMAL(38,0)) AS a,
             n
      FROM daily CROSS JOIN g
    ),
    den AS (SELECT any_value(n) AS n, sum(a * a) AS d2 FROM a),
    lags AS (
      SELECT l.lag AS lag, a1.a AS ax, a2.a AS ay
      FROM a a1
      CROSS JOIN (SELECT unnest(range(1, {LB_H + 1})) AS lag) l
      JOIN a a2 ON a2.day = a1.day + CAST(l.lag AS INT)
    ),
    num AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS np,
             sum(ax * ay) AS nk
      FROM lags GROUP BY lag
    ),
    terms AS (
      SELECT CAST(num.lag AS BIGINT) AS lag, np,
             CAST(nk AS DOUBLE) / CAST(d2 AS DOUBLE) AS rho,
             CAST(floor((CAST(nk AS DOUBLE) / CAST(d2 AS DOUBLE))
                        * (CAST(nk AS DOUBLE) / CAST(d2 AS DOUBLE))
                        / np * 1000000000000.0 + 0.001) AS BIGINT)
               AS t_micro,
             n
      FROM num CROSS JOIN den
    ),
    q AS (
      SELECT lag, np, rho, n,
             CAST(sum(t_micro) OVER (ORDER BY lag
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_micro
      FROM terms
    )
    SELECT q.lag, np AS n_pairs, round(rho, 6) AS acf,
           round(n * (n + 2) * cum_micro / 1000000000000.0, 6) AS q_stat,
           CAST(c.crit AS DOUBLE) AS chi2_crit_95,
           CAST(n * (n + 2) * cum_micro / 1000000000000.0 > c.crit
                AS INT) AS reject_white
    FROM q JOIN (VALUES {_LB_CRIT_VALUES}) AS c(df, crit) ON c.df = q.lag
    ORDER BY q.lag
    """,
)
def ljung_box_whiteness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau whiteness test (Ljung & Box 1978) on the
    daily order-count series: Q(h) = n(n+2) sum_{{k<=h}} rho_k^2/n_k
    against the chi-square(h) 95% critical ladder, for h = 1..{LB_H} —
    the serial-correlation diagnostic that certifies (or refutes)
    "these residuals are white noise", completing the time-series
    diagnostics row next to acf_daily_orders (which reports the rho_k
    themselves) and durbin_watson_residuals (lag-1 only). The
    synthetic order stream has Poisson-like arrivals with no weekly
    cycle, so the test correctly ACCEPTS whiteness at every horizon
    (all |acf| < 0.03, Q well under the ladder) — the accept is the
    pin; on seasonal data the lag-7 horizon would reject.

    Exactness: the series is demeaned in scaled integers a_t = n*x_t -
    S (DECIMAL(38,0)), so numerators sum(a_t a_{{t+k}}) and the
    denominator sum(a_t^2) are exact wide integers; rho_k is one
    double ratio of identical exact values, each Q term sits behind
    the floor(x*1e12+1e-3) guard, and the cumulative Q is an exact
    BIGINT running sum over the h-row lag table. Pair counts n_k are
    the gap-adjusted count of day/day+k pairs actually present
    (calendar gaps drop pairs identically in both engines). The
    critical values are baked literals (the bh_fdr inverse-CDF rule).

    Scale: one fact scan -> day-cardinality table; the lag self-join
    and every window run on that bounded series table."""
    o = load(spark, sf_dir).orders
    daily = (
        o.groupBy(
            F.date_trunc("day", "o_orderdate").cast("date").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=True)  # days-sized; read by both join sides
    )
    g = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    a = daily.crossJoin(F.broadcast(g)).select(
        "day",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * x - CAST(s AS DECIMAL(38,0))"
        ).alias("a"),
        "n",
    )
    den = a.agg(
        F.expr("any_value(n)").alias("n"),
        F.expr("sum(a * a)").alias("d2"),
    )
    probes = a.select(
        "day",
        F.col("a").alias("ax"),
        F.explode(
            F.array(*[F.lit(i) for i in range(1, LB_H + 1)])
        ).alias("lag"),
    ).withColumn("match_day", F.date_add("day", F.col("lag")))
    num = (
        probes.join(
            a.select(
                F.col("day").alias("match_day"), F.col("a").alias("ay")
            ),
            "match_day",
        )
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("np"),
            F.expr("sum(ax * ay)").alias("nk"),
        )
    )
    terms = num.crossJoin(F.broadcast(den)).select(
        F.col("lag").cast("long").alias("lag"),
        "np",
        F.expr("CAST(nk AS DOUBLE) / CAST(d2 AS DOUBLE)").alias("rho"),
        F.expr(
            "CAST(floor((CAST(nk AS DOUBLE) / CAST(d2 AS DOUBLE))"
            " * (CAST(nk AS DOUBLE) / CAST(d2 AS DOUBLE))"
            " / np * 1000000000000.0 + 0.001) AS BIGINT)"
        ).alias("t_micro"),
        "n",
    )
    wcum = W.orderBy("lag").rowsBetween(W.unboundedPreceding, 0)
    q = terms.withColumn(
        "cum_micro", F.sum("t_micro").over(wcum).cast("long")
    )
    crit = local_frame(
        spark,
        [(i + 1, c) for i, c in enumerate(LB_CHI2_95)], "df long, crit double"
    )
    qexpr = F.col("n") * (F.col("n") + 2) * F.col("cum_micro") / 1e12
    return (
        q.join(F.broadcast(crit), F.col("df") == F.col("lag"))
        .select(
            "lag",
            F.col("np").alias("n_pairs"),
            F.round("rho", 6).alias("acf"),
            F.round(qexpr, 6).alias("q_stat"),
            F.col("crit").alias("chi2_crit_95"),
            (qexpr > F.col("crit")).cast("int").alias("reject_white"),
        )
        .orderBy("lag")
    )


HT_N_TARGET = 500  # expected PPS sample size
# 8-hex-char -> BIGINT parser (the privacy-tier house idiom: DuckDB has
# no conv(); both engines derive the SAME 32-bit word from md5)
_HT_HEXWORD_DUCK = (
    "list_reduce(list_transform(range(1, 9), "
    "i -> CAST(strpos('0123456789abcdef', substr(m, CAST(i AS INT), 1)) - 1"
    " AS BIGINT)), (a, b) -> a * 16 + b)"
)


@register(
    "horvitz_thompson_total",
    oracle=f"""
    WITH y AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS yc,
             md5('ht|' || CAST(o_orderkey AS VARCHAR)) AS m
      FROM orders
    ),
    tot AS (SELECT CAST(sum(yc) AS BIGINT) AS yy,
                   CAST(count(*) AS BIGINT) AS n_pop
            FROM y),
    u AS (
      SELECT yc, {_HT_HEXWORD_DUCK} AS b, yy, n_pop
      FROM y CROSS JOIN tot
    ),
    marks AS (
      SELECT yc, yy, n_pop,
             (CAST(yc AS DECIMAL(38,0)) * {HT_N_TARGET}
              >= CAST(yy AS DECIMAL(38,0))) AS certainty,
             (CAST(b AS DECIMAL(38,0)) * CAST(yy AS DECIMAL(38,0))
              < CAST(yc AS DECIMAL(38,0)) * {HT_N_TARGET} * 4294967296)
               AS included
      FROM u
    ),
    agg AS (
      SELECT any_value(yy) AS yy, any_value(n_pop) AS n_pop,
             CAST(sum(CASE WHEN certainty THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cert,
             CAST(sum(CASE WHEN certainty THEN yc ELSE 0 END) AS BIGINT)
               AS y_cert,
             CAST(sum(CASE WHEN NOT certainty AND included
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_samp,
             CAST(sum(CASE WHEN NOT certainty AND included
                           THEN yc ELSE 0 END) AS BIGINT) AS y_samp
      FROM marks
    )
    SELECT n_pop, n_cert, n_samp,
           round(yy / 100.0, 2) AS exact_total_dollars,
           round((y_cert + n_samp * (CAST(yy AS DOUBLE) / {HT_N_TARGET}))
                 / 100.0, 2) AS ht_total_dollars,
           round(((y_cert + n_samp * (CAST(yy AS DOUBLE) / {HT_N_TARGET}))
                  - yy) * 100.0 / yy, 6) AS rel_err_pct,
           round(sqrt((CAST(yy AS DOUBLE) / {HT_N_TARGET})
                      * (CAST(yy AS DOUBLE) / {HT_N_TARGET})
                      * (n_samp - {HT_N_TARGET} * (CAST(y_samp AS DOUBLE)
                                                   / yy))) / 100.0, 2)
             AS se_dollars
    FROM agg
    """,
)
def horvitz_thompson_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson total estimation under Poisson PPS sampling
    (Horvitz & Thompson 1952): each order is included with probability
    proportional to its value, pi_i = min(1, n*y_i/Y), and the total
    is estimated as sum over the sample of y_i/pi_i — the
    unequal-probability survey estimator that powers audit sampling
    and monetary-unit sampling. PPS collapses every non-certainty
    contribution to the CONSTANT Y/n, so the estimate and its Poisson
    variance V = (Y/n)^2 * (m - n*S_s/Y) assemble from four exact
    integers (Y, m, S_s, n) — the estimator's classic self-weighting
    property, visible in the algebra. Completes the sampling-design
    tier (neyman_allocation, ipf_raking_weights, bernoulli/stratified
    samples) with the ESTIMATION side: design weights, not just draws.

    Determinism: inclusion is the house content-hash draw — a 32-bit
    md5 word b, included iff b*Y < y*n*2^32, an EXACT wide-integer
    predicate (no doubles anywhere in the sampling step); certainty
    units (pi >= 1) contribute exactly. The estimate/SE are one
    identical double expression over exact integer aggregates.

    Scale: one fact scan, one global agg for Y, one map-side
    mark-and-aggregate pass. Nothing is per-row stateful."""
    o = load(spark, sf_dir).orders
    y = o.select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias("yc"),
        F.expr(
            "CAST(conv(substring(md5(concat('ht|',"
            " CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        ).alias("b"),
    )
    tot = y.agg(
        F.sum("yc").cast("long").alias("yy"),
        F.count(F.lit(1)).cast("long").alias("n_pop"),
    )
    marks = y.crossJoin(F.broadcast(tot)).select(
        "yc",
        "yy",
        "n_pop",
        F.expr(
            f"CAST(yc AS DECIMAL(38,0)) * {HT_N_TARGET}"
            " >= CAST(yy AS DECIMAL(38,0))"
        ).alias("certainty"),
        F.expr(
            "CAST(b AS DECIMAL(38,0)) * CAST(yy AS DECIMAL(38,0))"
            f" < CAST(yc AS DECIMAL(38,0)) * {HT_N_TARGET} * 4294967296"
        ).alias("included"),
    )
    agg = marks.agg(
        F.expr("any_value(yy)").alias("yy"),
        F.expr("any_value(n_pop)").alias("n_pop"),
        F.sum(F.when(F.col("certainty"), 1).otherwise(0))
        .cast("long")
        .alias("n_cert"),
        F.sum(F.when(F.col("certainty"), F.col("yc")).otherwise(0))
        .cast("long")
        .alias("y_cert"),
        F.sum(
            F.when(~F.col("certainty") & F.col("included"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_samp"),
        F.sum(
            F.when(
                ~F.col("certainty") & F.col("included"), F.col("yc")
            ).otherwise(0)
        )
        .cast("long")
        .alias("y_samp"),
    )
    ht = F.col("y_cert") + F.col("n_samp") * (
        F.expr(f"CAST(yy AS DOUBLE) / {HT_N_TARGET}")
    )
    return agg.select(
        "n_pop",
        "n_cert",
        "n_samp",
        F.round(F.col("yy") / 100.0, 2).alias("exact_total_dollars"),
        F.round(ht / 100.0, 2).alias("ht_total_dollars"),
        F.round((ht - F.col("yy")) * 100.0 / F.col("yy"), 6).alias(
            "rel_err_pct"
        ),
        F.round(
            F.sqrt(
                F.expr(f"CAST(yy AS DOUBLE) / {HT_N_TARGET}")
                * F.expr(f"CAST(yy AS DOUBLE) / {HT_N_TARGET}")
                * (
                    F.col("n_samp")
                    - HT_N_TARGET
                    * F.expr("CAST(y_samp AS DOUBLE) / yy")
                )
            )
            / 100.0,
            2,
        ).alias("se_dollars"),
    )


@register(
    "spearman_rho_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT day,
             2 * rank() OVER (ORDER BY x)
               + CAST(count(*) OVER (PARTITION BY x) AS BIGINT) - 1 AS rx,
             2 * rank() OVER (ORDER BY y)
               + CAST(count(*) OVER (PARTITION BY y) AS BIGINT) - 1 AS ry
      FROM daily
    ),
    m AS (
      SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
             CAST(sum(rx) AS DECIMAL(38,0)) AS sx,
             CAST(sum(ry) AS DECIMAL(38,0)) AS sy,
             sum(CAST(rx AS DECIMAL(38,0)) * CAST(ry AS DECIMAL(38,0)))
               AS sxy,
             sum(CAST(rx AS DECIMAL(38,0)) * CAST(rx AS DECIMAL(38,0)))
               AS sxx,
             sum(CAST(ry AS DECIMAL(38,0)) * CAST(ry AS DECIMAL(38,0)))
               AS syy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS spearman_rho
    FROM m
    """,
)
def spearman_rho_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily order count and daily
    revenue — the rank-based row of the correlation kit
    (kendall_tau_daily: concordant pairs; acf: Pearson in time;
    correlation_matrix: Pearson across measures). Spearman = Pearson
    on MIDRANKS; ties get the average rank, kept exact by the
    2x-scaled integer midrank identity 2*midrank = 2*rank + ties - 1
    (both terms window functions), so every moment sum is an exact
    DECIMAL(38,0) and the output is one identical double expression.

    Scale: one fact scan -> day-cardinality table; both rank windows
    and the moment agg run on that bounded series."""
    o = load(spark, sf_dir).orders
    daily = (
        o.groupBy(
            F.date_trunc("day", "o_orderdate").cast("date").alias("day")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
                " AS BIGINT)"
            ).alias("y"),
        )
        .localCheckpoint(eager=True)  # days-sized, read by both rankings
    )
    ranked = daily.select(
        (
            2 * F.rank().over(W.orderBy("x"))
            + F.count(F.lit(1)).over(W.partitionBy("x")).cast("long")
            - 1
        ).alias("rx"),
        (
            2 * F.rank().over(W.orderBy("y"))
            + F.count(F.lit(1)).over(W.partitionBy("y")).cast("long")
            - 1
        ).alias("ry"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("rx").cast("decimal(38,0)").alias("sx"),
        F.sum("ry").cast("decimal(38,0)").alias("sy"),
        F.expr(
            "sum(CAST(rx AS DECIMAL(38,0)) * CAST(ry AS DECIMAL(38,0)))"
        ).alias("sxy"),
        F.expr(
            "sum(CAST(rx AS DECIMAL(38,0)) * CAST(rx AS DECIMAL(38,0)))"
        ).alias("sxx"),
        F.expr(
            "sum(CAST(ry AS DECIMAL(38,0)) * CAST(ry AS DECIMAL(38,0)))"
        ).alias("syy"),
    )
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        "        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        "           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)"
        " AS spearman_rho",
    )


@register(
    "cochran_armitage_trend",
    oracle="""
    WITH pre AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n95
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY 1
    ),
    conv AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    ),
    panel AS (
      SELECT CASE WHEN n95 >= 3 THEN 3 ELSE n95 END AS s,
             CASE WHEN cv.o_custkey IS NULL THEN 0 ELSE 1 END AS r
      FROM pre LEFT JOIN conv cv ON cv.o_custkey = pre.o_custkey
    ),
    g AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r) AS BIGINT) AS r
      FROM panel GROUP BY s
    ),
    tots AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(r) AS BIGINT) AS rr,
             CAST(sum(s * r) AS BIGINT) AS ssr,
             CAST(sum(s * n) AS BIGINT) AS ssn,
             CAST(sum(s * s * n) AS BIGINT) AS sssn
      FROM g
    ),
    stat AS (
      SELECT nn, rr,
             (CAST(nn AS DECIMAL(38,0)) * ssr
              - CAST(rr AS DECIMAL(38,0)) * ssn) AS a_num,
             (CAST(nn AS DECIMAL(38,0)) * sssn
              - CAST(ssn AS DECIMAL(38,0)) * ssn) AS c_term
      FROM tots
    ),
    z AS (
      SELECT CAST(a_num AS DOUBLE) * CAST(a_num AS DOUBLE)
             * CAST(nn AS DOUBLE)
             / (CAST(rr AS DOUBLE) * (CAST(nn AS DOUBLE)
                - CAST(rr AS DOUBLE)) * CAST(c_term AS DOUBLE))
               AS chi2
      FROM stat
    )
    SELECT g.s AS stratum, g.n AS n_customers, g.r AS n_converted,
           round(g.r * 1.0 / g.n, 6) AS conv_rate,
           round(z.chi2, 6) AS chi2_trend,
           CAST(z.chi2 > 3.8415 AS INT) AS significant_95
    FROM g CROSS JOIN z
    ORDER BY g.s
    """,
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a linear trend in proportions
    (Cochran 1954; Armitage 1955) — does 1996 conversion probability
    rise MONOTONICALLY with 1995 engagement (order count scored 1, 2,
    3+)? The dose-response complement to chi2_feature_association
    (which tests ANY association, spending df on non-ordered
    departures): one df aimed along the ordered scores.

    Fully exact until the last step: with group totals (n_i, r_i) and
    integer scores s_i, the trend numerator A = N*sum(s r) -
    R*sum(s n) and the score spread C = N*sum(s^2 n) - (sum(s n))^2
    are exact DECIMAL(38,0); chi2 = A^2 N / (R(N-R)C) is ONE double
    expression over them — no transcendentals, no floor guards needed
    anywhere. Per-stratum rates shown alongside the shared statistic.

    Scale: one fact scan per period, customer-sized panel, 3-row group
    table; everything after is scalar."""
    o = load(spark, sf_dir).orders
    pre = (
        o.filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n95"))
    )
    conv = (
        o.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
    )
    panel = pre.join(conv, F.col("o_custkey") == F.col("ck"), "left").select(
        F.when(F.col("n95") >= 3, 3).otherwise(F.col("n95")).alias("s"),
        F.when(F.col("ck").isNull(), 0).otherwise(1).alias("r"),
    )
    g = panel.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").cast("long").alias("r"),
    )
    tots = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.sum(F.col("s") * F.col("r")).cast("long").alias("ssr"),
        F.sum(F.col("s") * F.col("n")).cast("long").alias("ssn"),
        F.sum(F.col("s") * F.col("s") * F.col("n"))
        .cast("long")
        .alias("sssn"),
    )
    z = tots.selectExpr(
        "CAST((CAST(nn AS DECIMAL(38,0)) * ssr"
        " - CAST(rr AS DECIMAL(38,0)) * ssn) AS DOUBLE)"
        " * CAST((CAST(nn AS DECIMAL(38,0)) * ssr"
        " - CAST(rr AS DECIMAL(38,0)) * ssn) AS DOUBLE)"
        " * CAST(nn AS DOUBLE)"
        " / (CAST(rr AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(rr AS DOUBLE))"
        "    * CAST((CAST(nn AS DECIMAL(38,0)) * sssn"
        "            - CAST(ssn AS DECIMAL(38,0)) * ssn) AS DOUBLE))"
        " AS chi2",
    )
    return (
        g.crossJoin(F.broadcast(z))
        .select(
            F.col("s").alias("stratum"),
            F.col("n").alias("n_customers"),
            F.col("r").alias("n_converted"),
            F.round(F.col("r") * 1.0 / F.col("n"), 6).alias("conv_rate"),
            F.round(F.col("chi2"), 6).alias("chi2_trend"),
            (F.col("chi2") > 3.8415).cast("int").alias("significant_95"),
        )
        .orderBy("stratum")
    )


# chi-square 95% ladder extended to df 24 (Kruskal-Wallis across up to
# 25 nation groups; LB_CHI2_95 covers df 1..10)
KW_CHI2_95 = LB_CHI2_95 + (
    19.6751, 21.0261, 22.3620, 23.6848, 24.9958, 26.2962, 27.5871,
    28.8693, 30.1435, 31.4104, 32.6706, 33.9244, 35.1725, 36.4150,
)
_KW_CRIT_VALUES = ", ".join(
    f"({i + 1}, {c})" for i, c in enumerate(KW_CHI2_95)
)


@register(
    "kruskal_wallis_nations",
    oracle=f"""
    WITH per_cust AS (
      SELECT c.c_nationkey AS nk,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS c
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY o.o_custkey, c.c_nationkey
    ),
    vals AS (
      SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM per_cust GROUP BY c
    ),
    ranked AS (
      SELECT c, cnt,
             CAST(sum(cnt) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
                  - cnt AS BIGINT) AS cum_prev
      FROM vals
    ),
    gk AS (
      SELECT p.nk,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(2 * r.cum_prev + r.cnt + 1) AS BIGINT) AS sr2
      FROM per_cust p JOIN ranked r ON r.c = p.c
      GROUP BY p.nk
    ),
    tots AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS k
      FROM gk
    ),
    terms AS (
      SELECT gk.nk, gk.n_g, gk.sr2, t.nn, t.k,
             CAST(floor(CAST(CAST(gk.sr2 AS DECIMAL(38,0))
                             * CAST(gk.sr2 AS DECIMAL(38,0)) AS DOUBLE)
                        / (4.0 * gk.n_g) * 1000000 + 0.001) AS BIGINT)
               AS rsq_micro
      FROM gk CROSS JOIN tots t
    ),
    ties AS (
      SELECT CAST(sum(CAST(cnt AS DECIMAL(38,0))
                      * CAST(cnt AS DECIMAL(38,0)) * cnt - cnt)
                  AS DECIMAL(38,0)) AS t3t
      FROM vals
    ),
    h AS (
      SELECT any_value(nn) AS nn, any_value(k) AS k,
             CAST(sum(rsq_micro) AS BIGINT) AS srq,
             any_value(t3t) AS t3t
      FROM terms CROSS JOIN ties
    ),
    stat AS (
      SELECT nn, k,
             12.0 / (CAST(nn AS DOUBLE) * (nn + 1))
             * (srq / 1000000.0) - 3.0 * (nn + 1) AS h_raw,
             1.0 - CAST(t3t AS DOUBLE)
                   / (CAST(nn AS DOUBLE) * nn * nn - nn) AS tie_corr
      FROM h
    )
    SELECT nn AS n_customers, k AS n_groups,
           round(h_raw, 6) AS h_stat,
           round(h_raw / tie_corr, 6) AS h_tie_corrected,
           CAST(c.crit AS DOUBLE) AS chi2_crit_95,
           CAST(h_raw / tie_corr > c.crit AS INT) AS significant_95
    FROM stat JOIN (VALUES {_KW_CRIT_VALUES}) AS c(df, crit)
      ON c.df = stat.k - 1
    """,
)
def kruskal_wallis_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank one-way ANOVA (Kruskal & Wallis 1952) of
    per-customer spend across nations — does ANY nation's spend
    distribution sit higher? The k-group generalization of
    mann_whitney_u (its 2-group special case) and the rank-based
    complement to brown_forsythe_variance: location shift without
    normality. Tie-corrected H against the baked chi-square ladder at
    df = k-1 (k from the data, so a tiny SF missing nations picks the
    right critical value).

    Exactness: the mann_whitney doubled-midrank discipline — ranks
    never materialize per row; the distinct-value table carries
    (value, cnt, exclusive prefix), each (value, nation) cell
    contributes cnt * (2*cum_prev + cnt + 1) to an exact BIGINT
    doubled rank sum; R_g^2/n_g terms go through DECIMAL(38,0)
    squaring (sr2^2 exceeds 2^53 past sf0.02) then one floored 1e-6
    division each, so the cross-group sum is exact; tie term
    sum(t^3-t) is exact DECIMAL. Only the final H expression is
    floating point, identical in both engines.

    Scale: one fact scan -> per-customer agg -> value-cardinality
    table; the rank window runs on that bounded table (oracle spells
    it as one ordered window; Spark uses the same two-phase
    global_order_stats decomposition as mann_whitney)."""
    t = load(spark, sf_dir)
    vc = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_custkey", "c_nationkey")
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
                " AS BIGINT)"
            ).alias("c")
        )
        .groupBy(F.col("c_nationkey").alias("nk"), "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt_g"))
        # staged (value, nation) cell table — vals and the per-nation
        # rank sums both derive from it, so the fact join runs ONCE
        .localCheckpoint(eager=True)
    )
    vals = (
        vc.groupBy("c")
        .agg(F.sum("cnt_g").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    ranked = global_order_stats(
        vals, "c", "c", measure_col="cnt", ascending=True
    ).withColumn(
        "cum_prev", (F.col("global_cum") - F.col("cnt")).cast("long")
    )
    gk = (
        vc.join(ranked.select("c", "cnt", "cum_prev"), "c")
        .groupBy("nk")
        .agg(
            F.sum("cnt_g").cast("long").alias("n_g"),
            F.sum(
                F.col("cnt_g")
                * (2 * F.col("cum_prev") + F.col("cnt") + 1)
            )
            .cast("long")
            .alias("sr2"),
        )
    )
    tots = gk.agg(
        F.sum("n_g").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    terms = gk.crossJoin(F.broadcast(tots)).selectExpr(
        "nk",
        "n_g",
        "nn",
        "k",
        "CAST(floor(CAST(CAST(sr2 AS DECIMAL(38,0))"
        " * CAST(sr2 AS DECIMAL(38,0)) AS DOUBLE)"
        " / (4.0 * n_g) * 1000000 + 0.001) AS BIGINT) AS rsq_micro",
    )
    ties = vals.agg(
        F.expr(
            "CAST(sum(CAST(cnt AS DECIMAL(38,0))"
            " * CAST(cnt AS DECIMAL(38,0)) * cnt - cnt)"
            " AS DECIMAL(38,0))"
        ).alias("t3t")
    )
    h = (
        terms.agg(
            F.expr("any_value(nn)").alias("nn"),
            F.expr("any_value(k)").alias("k"),
            F.sum("rsq_micro").cast("long").alias("srq"),
        )
        .crossJoin(F.broadcast(ties))
    )
    stat = h.selectExpr(
        "nn",
        "k",
        "12.0 / (CAST(nn AS DOUBLE) * (nn + 1))"
        " * (srq / 1000000.0) - 3.0 * (nn + 1) AS h_raw",
        "1.0 - CAST(t3t AS DOUBLE)"
        " / (CAST(nn AS DOUBLE) * nn * nn - nn) AS tie_corr",
    )
    crit = local_frame(
        spark,
        [(i + 1, c) for i, c in enumerate(KW_CHI2_95)],
        "df long, crit double",
    )
    return stat.join(
        F.broadcast(crit), F.col("df") == F.col("k") - 1
    ).select(
        F.col("nn").alias("n_customers"),
        F.col("k").alias("n_groups"),
        F.round(F.col("h_raw"), 6).alias("h_stat"),
        F.round(F.col("h_raw") / F.col("tie_corr"), 6).alias(
            "h_tie_corrected"
        ),
        F.col("crit").alias("chi2_crit_95"),
        (F.col("h_raw") / F.col("tie_corr") > F.col("crit"))
        .cast("int")
        .alias("significant_95"),
    )


_DEMING_PANEL = """
      SELECT o_custkey,
             CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                            AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
                           THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                            AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                           THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM orders GROUP BY 1
      HAVING x > 0 AND y > 0
"""


@register(
    "deming_regression",
    oracle=f"""
    WITH panel AS ({_DEMING_PANEL}),
    m AS (
      SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(y) AS DECIMAL(38,0)) AS sy,
             sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
               AS sxy,
             sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
               AS sxx,
             sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
               AS syy
      FROM panel
    ),
    c AS (
      SELECT CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
             CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
             CAST(n * syy - sy * sy AS DOUBLE) AS cyy
      FROM m
    ),
    fit AS (
      SELECT nd, sxd, syd, cxy, cxx, cyy,
             (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                               + 4 * cxy * cxy)) / (2 * cxy)
               AS slope_d,
             cxy / cxx AS slope_ols
      FROM c
    )
    SELECT CAST(nd AS BIGINT) AS n_customers,
           round(slope_d, 6) AS slope_deming,
           round(slope_ols, 6) AS slope_ols,
           round((syd - slope_d * sxd) / (nd * 100), 2)
             AS intercept_deming_dollars,
           round(slope_ols / slope_d, 6) AS attenuation_ratio
    FROM fit
    """,
)
def deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming (errors-in-variables) regression of 1996 on 1995
    per-customer spend with equal error variances (delta = 1 — the
    orthogonal-regression case, Deming 1943): slope = (Syy - Sxx +
    sqrt((Syy - Sxx)^2 + 4 Sxy^2)) / (2 Sxy) over centered moments.
    When BOTH variables carry noise, OLS attenuates toward zero
    (errors-in-x bias); the reported attenuation_ratio =
    slope_ols/slope_deming < 1 makes the bias visible — the
    measurement-error counterpart of the causal kit's selection
    adjustments, and the method-comparison regression labs use.

    Exactness: centered moments assemble from exact DECIMAL(38,0)
    sums scaled by n (the formula is degree-homogeneous, so the
    scaling cancels); the slope is one identical double expression
    with a single sqrt. Customers active in both years only (HAVING
    pushed into the panel agg).

    Scale: ONE fact scan (both year measures in one conditional agg),
    customer-sized panel, then scalar algebra."""
    o = load(spark, sf_dir).orders
    cents = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
    panel = (
        o.groupBy("o_custkey")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN o_orderdate >= '1995-01-01'"
                " AND o_orderdate < '1996-01-01'"
                f" THEN {cents} ELSE 0 END) AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(sum(CASE WHEN o_orderdate >= '1996-01-01'"
                " AND o_orderdate < '1997-01-01'"
                f" THEN {cents} ELSE 0 END) AS BIGINT)"
            ).alias("y"),
        )
        .filter((F.col("x") > 0) & (F.col("y") > 0))
    )
    m = panel.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.expr(
            "sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))"
        ).alias("sxy"),
        F.expr(
            "sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))"
        ).alias("sxx"),
        F.expr(
            "sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))"
        ).alias("syy"),
    )
    c = m.selectExpr(
        "CAST(n AS DOUBLE) AS nd",
        "CAST(sx AS DOUBLE) AS sxd",
        "CAST(sy AS DOUBLE) AS syd",
        "CAST(n * sxy - sx * sy AS DOUBLE) AS cxy",
        "CAST(n * sxx - sx * sx AS DOUBLE) AS cxx",
        "CAST(n * syy - sy * sy AS DOUBLE) AS cyy",
    )
    fit = c.selectExpr(
        "nd",
        "sxd",
        "syd",
        "(cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)"
        " + 4 * cxy * cxy)) / (2 * cxy) AS slope_d",
        "cxy / cxx AS slope_ols",
    )
    return fit.selectExpr(
        "CAST(nd AS BIGINT) AS n_customers",
        "round(slope_d, 6) AS slope_deming",
        "round(slope_ols, 6) AS slope_ols",
        "round((syd - slope_d * sxd) / (nd * 100), 2)"
        " AS intercept_deming_dollars",
        "round(slope_ols / slope_d, 6) AS attenuation_ratio",
    )


@register(
    "kulldorff_temporal_scan",
    oracle="""
    WITH monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    seq AS (
      SELECT month, c,
             CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS rn,
             CAST(sum(c) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM monthly
    ),
    tot AS (SELECT CAST(max(cum) AS BIGINT) AS ctot,
                   CAST(max(rn) AS BIGINT) AS m
            FROM seq),
    win AS (
      SELECT a.month AS start_month, b.month AS end_month,
             b.rn - a.rn + 1 AS width,
             b.cum - a.cum + a.c AS cw, t.ctot, t.m
      FROM seq a JOIN seq b ON b.rn >= a.rn CROSS JOIN tot t
    ),
    scored AS (
      SELECT start_month, end_month, width, cw,
             CAST(ctot AS DOUBLE) * width / m AS ew, ctot,
             CASE WHEN cw * m > ctot * width THEN
               CAST(floor(cw * ln(cw / (CAST(ctot AS DOUBLE) * width / m))
                          * 1000000 + 0.001) AS BIGINT)
               + CAST(floor((ctot - cw)
                            * ln((ctot - cw)
                                 / (ctot - CAST(ctot AS DOUBLE) * width / m))
                            * 1000000 + 0.001) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS llr_micro
      FROM win
    )
    SELECT start_month, end_month, CAST(width AS BIGINT) AS width_months,
           cw AS n_orders, round(ew, 2) AS expected_orders,
           llr_micro, round(llr_micro / 1000000.0, 4) AS llr
    FROM scored
    ORDER BY llr_micro DESC, start_month, end_month LIMIT 10
    """,
)
def kulldorff_temporal_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kulldorff temporal scan statistic (Kulldorff 1997) over monthly
    order counts: every contiguous month window is scored by the
    Poisson log-likelihood ratio c ln(c/E) + (C-c) ln((C-c)/(C-E))
    against the uniform-rate baseline (only excess windows, c > E,
    score), and the top-10 windows localize WHERE the rate anomaly is
    — the window-localization complement to the pointwise monitors
    (cusum/page_hinkley say WHEN something drifted; the scan says
    WHICH interval is hottest, the disease-surveillance workhorse).

    Determinism: window counts come from exact prefix sums (one
    ordered window over the months-bounded series + an O(M^2/2)
    bounded pair join — ~3k candidate windows); the two ln terms per
    window are floored to 1e-6 so scores are exact BIGINTs with
    (start, end) tie-breaks.

    Scale: one fact scan -> months table; the candidate-window join is
    calendar-quadratic, which is bounded and SF-independent —
    never data-sized."""
    o = load(spark, sf_dir).orders
    monthly = (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    wseq = W.orderBy("month").rowsBetween(W.unboundedPreceding, 0)
    seq = monthly.select(
        "month",
        "c",
        F.row_number().over(W.orderBy("month")).cast("long").alias("rn"),
        F.sum("c").over(wseq).cast("long").alias("cum"),
    ).localCheckpoint(eager=True)  # months-sized, read by both join sides
    tot = seq.agg(
        F.max("cum").cast("long").alias("ctot"),
        F.max("rn").cast("long").alias("m"),
    )
    b = seq.select(
        F.col("month").alias("end_month"),
        F.col("rn").alias("rnb"),
        F.col("cum").alias("cumb"),
    )
    win = (
        # months-bounded right side: broadcast turns the non-equi pair
        # join into BNLJ instead of a CartesianProduct plan
        seq.join(F.broadcast(b), F.col("rnb") >= F.col("rn"))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "month AS start_month",
            "end_month",
            "rnb - rn + 1 AS width",
            "cumb - cum + c AS cw",
            "ctot",
            "m",
        )
    )
    scored = win.selectExpr(
        "start_month",
        "end_month",
        "width",
        "cw",
        "CAST(ctot AS DOUBLE) * width / m AS ew",
        "ctot",
        "CASE WHEN cw * m > ctot * width THEN"
        " CAST(floor(cw * ln(cw / (CAST(ctot AS DOUBLE) * width / m))"
        " * 1000000 + 0.001) AS BIGINT)"
        " + CAST(floor((ctot - cw)"
        " * ln((ctot - cw) / (ctot - CAST(ctot AS DOUBLE) * width / m))"
        " * 1000000 + 0.001) AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END AS llr_micro",
    )
    return (
        scored.select(
            "start_month",
            "end_month",
            F.col("width").cast("long").alias("width_months"),
            F.col("cw").alias("n_orders"),
            F.round("ew", 2).alias("expected_orders"),
            "llr_micro",
            F.round(F.col("llr_micro") / 1_000_000.0, 4).alias("llr"),
        )
        .orderBy(F.col("llr_micro").desc(), "start_month", "end_month")
        .limit(10)
    )


@register(
    "wasserstein_drift_by_nation",
    oracle="""
    WITH base AS (
      SELECT c.c_nationkey AS nk, n.n_name AS nation,
             strftime(o.o_orderdate, '%Y-%m') AS month,
             CAST(count(*) AS BIGINT) AS c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2, 3
    ),
    spine AS (SELECT DISTINCT month FROM base),
    gm AS (
      SELECT month, CAST(sum(c) AS BIGINT) AS cg FROM base GROUP BY 1
    ),
    nat AS (
      SELECT s.month, b.nation, b.nk, coalesce(t.c, 0) AS cn
      FROM spine s
      CROSS JOIN (SELECT DISTINCT nation, nk FROM base) b
      LEFT JOIN base t ON t.month = s.month AND t.nk = b.nk
    ),
    cums AS (
      SELECT n.nation, n.month,
             CAST(sum(n.cn) OVER (PARTITION BY n.nation ORDER BY n.month
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
             CAST(sum(g.cg) OVER (PARTITION BY n.nation ORDER BY n.month
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_g
      FROM nat n JOIN gm g ON g.month = n.month
    ),
    tots AS (
      SELECT nation,
             max(cum_n) AS tn, max(cum_g) AS tg,
             CAST(sum(abs(cum_n * tg_all - cum_g * tn_all)) AS DECIMAL(38,0))
               AS num
      FROM (
        SELECT c.*,
               max(cum_n) OVER (PARTITION BY nation) AS tn_all,
               max(cum_g) OVER (PARTITION BY nation) AS tg_all
        FROM cums c
      ) GROUP BY nation
    )
    SELECT nation, tn AS n_orders,
           round(CAST(num AS DOUBLE)
                 / (CAST(tn AS DOUBLE) * tg), 6) AS w1_months
    FROM tots ORDER BY nation
    """,
)
def wasserstein_drift_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earth-mover (Wasserstein-1) distance between each nation's
    monthly order-arrival distribution and the global one, in MONTH
    units — on the line W1 has the exact closed form
    integral |F_nation - F_global|, so no Sinkhorn iteration is
    needed: it is the drift metric that reports HOW FAR IN TIME mass
    moved, where js_divergence_sources / dq_distribution_drift report
    only THAT the distributions differ (a one-month uniform shift and
    a 12-month shift get the same JS but 1 vs 12 here).

    Exactness: both CDFs are exact integer prefix sums on the shared
    month spine; |F_n - F_g| sums via the cross-multiplied integers
    |cum_n*T_g - cum_g*T_n| in DECIMAL(38,0), and ONE division by
    T_n*T_g happens at the output edge — no per-term floats at all.

    Scale: one fact scan -> (nation, month) hash agg; spine join,
    windows and rollups all run on the 25 x months bounded grid."""
    t = load(spark, sf_dir)
    base = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)  # 25 x months grid, read 3x
    )
    spine = base.select("month").distinct()
    nations = base.select("nation").distinct()
    glob = base.groupBy("month").agg(F.sum("c").cast("long").alias("cg"))
    nat = (
        spine.crossJoin(F.broadcast(nations))
        .join(base, ["month", "nation"], "left")
        .select(
            "month", "nation", F.coalesce("c", F.lit(0)).alias("cn")
        )
    )
    wn = W.partitionBy("nation").orderBy("month").rowsBetween(
        W.unboundedPreceding, 0
    )
    cums = nat.join(glob, "month").select(
        "nation",
        "month",
        F.sum("cn").over(wn).cast("long").alias("cum_n"),
        F.sum("cg").over(wn).cast("long").alias("cum_g"),
    )
    wt = W.partitionBy("nation")
    with_t = cums.select(
        "nation",
        "cum_n",
        "cum_g",
        F.max("cum_n").over(wt).alias("tn"),
        F.max("cum_g").over(wt).alias("tg"),
    )
    tots = with_t.groupBy("nation").agg(
        F.max("tn").cast("long").alias("tn"),
        F.max("tg").cast("long").alias("tg"),
        F.expr(
            "CAST(sum(abs(CAST(cum_n AS DECIMAL(38,0)) * tg"
            " - CAST(cum_g AS DECIMAL(38,0)) * tn)) AS DECIMAL(38,0))"
        ).alias("num"),
    )
    return tots.select(
        "nation",
        F.col("tn").alias("n_orders"),
        F.round(
            F.expr(
                "CAST(num AS DOUBLE)"
                " / (CAST(tn AS DOUBLE) * tg)"
            ),
            6,
        ).alias("w1_months"),
    ).orderBy("nation")


NW_LAGS = 7  # Bartlett-kernel truncation (weekly horizon)


@register(
    "newey_west_robust_se",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS s FROM daily),
    a AS (
      SELECT day,
             CAST(n AS DECIMAL(38,0)) * x - CAST(s AS DECIMAL(38,0)) AS a,
             n, s
      FROM daily CROSS JOIN g
    ),
    g0 AS (SELECT any_value(n) AS n, any_value(s) AS s,
                  sum(a * a) AS d0 FROM a),
    lags AS (
      SELECT l.lag AS lag, a1.a AS ax, a2.a AS ay
      FROM a a1
      CROSS JOIN (SELECT unnest(range(1, {NW_LAGS + 1})) AS lag) l
      JOIN a a2 ON a2.day = a1.day + CAST(l.lag AS INT)
    ),
    dk AS (
      SELECT CAST(sum(({NW_LAGS + 1} - lag) * ax * ay) AS DECIMAL(38,0))
        AS wsum
      FROM lags
    ),
    v AS (
      SELECT n, s,
             CAST(d0 AS DOUBLE) / (CAST(n AS DOUBLE) * n * n * n) AS var_n,
             (CAST(d0 AS DOUBLE) * {NW_LAGS + 1} + 2 * CAST(wsum AS DOUBLE))
             / ({NW_LAGS + 1} * CAST(n AS DOUBLE) * n * n * n) AS var_nw
      FROM g0 CROSS JOIN dk
    )
    SELECT n AS n_days,
           round(CAST(s AS DOUBLE) / (100.0 * n), 2) AS mean_daily_dollars,
           round(sqrt(var_n) / 100, 4) AS naive_se_dollars,
           round(sqrt(greatest(var_nw, 0.0)) / 100, 4) AS nw_se_dollars,
           round(sqrt(greatest(var_nw, 0.0) / var_n), 6)
             AS se_inflation_ratio
    FROM v
    """,
)
def newey_west_robust_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West HAC standard error (Newey & West 1987) of the mean
    daily revenue with a Bartlett kernel truncated at {NW_LAGS} lags:
    serial correlation makes the naive sigma/sqrt(n) SE dishonest,
    and the reported inflation ratio nw_se/naive_se is the one number
    that says HOW dishonest — the error-bar companion to
    ljung_box_whiteness (which tests whether correlation exists; this
    prices it into the interval). On these near-white arrivals the
    ratio sits near 1, the honest readout.

    Exactness: the ljung_box machinery — demeaned in scaled integers
    a_t = n*x_t - S, autocovariance numerators D_k = sum(a_t a_(t+k))
    exact DECIMAL(38,0); the Bartlett weights (L+1-k)/(L+1) enter as
    exact integer multipliers INSIDE the decimal sum, so the whole
    variance assembles from two exact wide integers and divides once;
    negative rounding residue clamps at 0 before the sqrt. Pair
    windows are gap-adjusted identically via the day+k join.

    Scale: one fact scan -> day table; lag join and sums on the
    calendar-bounded series."""
    o = load(spark, sf_dir).orders
    daily = (
        o.groupBy(
            F.date_trunc("day", "o_orderdate").cast("date").alias("day")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
                " AS BIGINT)"
            ).alias("x")
        )
        .localCheckpoint(eager=True)
    )
    g = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    a = daily.crossJoin(F.broadcast(g)).select(
        "day",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * x - CAST(s AS DECIMAL(38,0))"
        ).alias("a"),
        "n",
        "s",
    ).localCheckpoint(eager=True)  # days-sized, read by g0 + both lag sides
    g0 = a.agg(
        F.expr("any_value(n)").alias("n"),
        F.expr("any_value(s)").alias("s"),
        F.expr("sum(a * a)").alias("d0"),
    )
    probes = a.select(
        "day",
        F.col("a").alias("ax"),
        F.explode(
            F.array(*[F.lit(i) for i in range(1, NW_LAGS + 1)])
        ).alias("lag"),
    ).withColumn("match_day", F.date_add("day", F.col("lag")))
    dk = (
        probes.join(
            a.select(
                F.col("day").alias("match_day"), F.col("a").alias("ay")
            ),
            "match_day",
        )
        .agg(
            F.expr(
                f"CAST(sum(({NW_LAGS + 1} - lag) * ax * ay)"
                " AS DECIMAL(38,0))"
            ).alias("wsum")
        )
    )
    v = g0.crossJoin(F.broadcast(dk)).selectExpr(
        "n",
        "s",
        "CAST(d0 AS DOUBLE) / (CAST(n AS DOUBLE) * n * n * n) AS var_n",
        f"(CAST(d0 AS DOUBLE) * {NW_LAGS + 1} + 2 * CAST(wsum AS DOUBLE))"
        f" / ({NW_LAGS + 1} * CAST(n AS DOUBLE) * n * n * n) AS var_nw",
    )
    return v.selectExpr(
        "n AS n_days",
        "round(CAST(s AS DOUBLE) / (100.0 * n), 2) AS mean_daily_dollars",
        "round(sqrt(var_n) / 100, 4) AS naive_se_dollars",
        "round(sqrt(greatest(var_nw, 0.0)) / 100, 4) AS nw_se_dollars",
        "round(sqrt(greatest(var_nw, 0.0) / var_n), 6)"
        " AS se_inflation_ratio",
    )


CVM_CRIT_95 = 0.461  # asymptotic two-sample 5% point (Anderson 1962)


@register(
    "cramer_von_mises_arms",
    oracle=f"""
    WITH per_user AS (
      SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS c
      FROM events GROUP BY user_id
    ),
    vals AS (
      SELECT c,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_a
      FROM per_user GROUP BY c
    ),
    cums AS (
      SELECT c, cnt,
             CAST(sum(cnt_a) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_a,
             CAST(sum(cnt - cnt_a) OVER (ORDER BY c
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
      FROM vals
    ),
    tots AS (
      SELECT CAST(max(cum_a) AS BIGINT) AS n,
             CAST(max(cum_b) AS BIGINT) AS m
      FROM cums
    ),
    ssum AS (
      SELECT any_value(n) AS n, any_value(m) AS m,
             CAST(sum(CAST(cnt AS DECIMAL(38,0))
                      * (CAST(cum_a AS DECIMAL(38,0)) * m
                         - CAST(cum_b AS DECIMAL(38,0)) * n)
                      * (CAST(cum_a AS DECIMAL(38,0)) * m
                         - CAST(cum_b AS DECIMAL(38,0)) * n))
                  AS DECIMAL(38,0)) AS q
      FROM cums CROSS JOIN tots
    )
    SELECT n AS n_a, m AS n_b,
           round(CAST(q AS DOUBLE)
                 / (CAST(n AS DOUBLE) * m * (n + m) * (n + m)), 6)
             AS cvm_t,
           CAST(CAST(q AS DOUBLE)
                / (CAST(n AS DOUBLE) * m * (n + m) * (n + m))
                > {CVM_CRIT_95} AS INT) AS significant_95
    FROM ssum
    """,
)
def cramer_von_mises_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramer-von Mises test (Anderson 1962) between the
    hash-split arms on per-user spend: T = nm/N^2 * sum over the
    pooled sample of (F_A - F_B)^2 — the INTEGRATED-gap member of the
    two-sample kit (mann_whitney: rank shift; ks_two_sample: the
    WORST gap; CvM: the whole curve, more powerful against
    distributed differences), against the asymptotic 5% point
    {CVM_CRIT_95}. The hash split is a placebo — non-rejection
    pinned.

    Fully exact until one division: the pooled distinct-value table
    carries exact arm CDFs as integer prefix sums; each squared gap
    is the cross-multiplied integer (cum_A*m - cum_B*n)^2 weighted by
    the pooled multiplicity, summed in DECIMAL(38,0) — zero per-term
    floats, no floor guards anywhere (the cochran_armitage class).

    Scale: one fact scan -> per-user agg -> value-cardinality table;
    the prefix window runs on that bounded table (the oracle's single
    window; Spark mirrors via the same shape as mann_whitney)."""
    e = load(spark, sf_dir).events
    per_user = e.groupBy("user_id").agg(
        F.expr(
            "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)"
        ).alias("c")
    ).select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            "A",
        )
        .otherwise("B")
        .alias("arm"),
        "c",
    )
    vals = (
        per_user.groupBy("c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
            .cast("long")
            .alias("cnt_a"),
        )
        .localCheckpoint(eager=True)
    )
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    # two-phase distributed prefix sums (the mann_whitney discipline —
    # a bare ORDER BY window here would be the banned single-partition
    # shape on the value-cardinality table)
    ca = global_order_stats(
        vals, "c", "c", measure_col="cnt_a", ascending=True
    ).select("c", "cnt", F.col("global_cum").cast("long").alias("cum_a"))
    ct = global_order_stats(
        vals, "c", "c", measure_col="cnt", ascending=True
    ).select(
        F.col("c").alias("c2"), F.col("global_cum").cast("long").alias("cum_t")
    )
    cums = ca.join(ct, F.col("c") == F.col("c2")).select(
        "c",
        "cnt",
        "cum_a",
        (F.col("cum_t") - F.col("cum_a")).cast("long").alias("cum_b"),
    )
    tots = cums.agg(
        F.max("cum_a").cast("long").alias("n"),
        F.max("cum_b").cast("long").alias("m"),
    )
    ssum = cums.crossJoin(F.broadcast(tots)).agg(
        F.expr("any_value(n)").alias("n"),
        F.expr("any_value(m)").alias("m"),
        F.expr(
            "CAST(sum(CAST(cnt AS DECIMAL(38,0))"
            " * (CAST(cum_a AS DECIMAL(38,0)) * m"
            "    - CAST(cum_b AS DECIMAL(38,0)) * n)"
            " * (CAST(cum_a AS DECIMAL(38,0)) * m"
            "    - CAST(cum_b AS DECIMAL(38,0)) * n)) AS DECIMAL(38,0))"
        ).alias("q"),
    )
    t_expr = F.expr(
        "CAST(q AS DOUBLE) / (CAST(n AS DOUBLE) * m * (n + m) * (n + m))"
    )
    return ssum.select(
        F.col("n").alias("n_a"),
        F.col("m").alias("n_b"),
        F.round(t_expr, 6).alias("cvm_t"),
        (t_expr > CVM_CRIT_95).cast("int").alias("significant_95"),
    )


KW_YEARS = (1993, 1994, 1995, 1996, 1997)  # five full order years


@register(
    "kendalls_w_nation_ranks",
    oracle=f"""
    WITH annual AS (
      SELECT n.n_name AS nation,
             CAST(strftime(o.o_orderdate, '%Y') AS INT) AS yr,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE CAST(strftime(o.o_orderdate, '%Y') AS INT)
            BETWEEN {KW_YEARS[0]} AND {KW_YEARS[-1]}
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT nation, yr,
             CAST(row_number() OVER (PARTITION BY yr
                  ORDER BY rev DESC, nation) AS BIGINT) AS rk
      FROM annual
    ),
    sums AS (
      SELECT nation, CAST(sum(rk) AS BIGINT) AS r_i,
             CAST(count(*) AS BIGINT) AS m_i
      FROM ranked GROUP BY nation
    ),
    consts AS (
      -- balanced-panel assertion: W/Friedman assume every nation is
      -- ranked in all m years; fail loudly instead of corrupting W
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(CASE WHEN min(m_i) = max(m_i) THEN min(m_i)
                  ELSE error('kendalls_w: unbalanced panel') END
                  AS BIGINT) AS m
      FROM sums
    ),
    s AS (
      SELECT n, m,
             CAST(sum((2 * r_i - m * (n + 1))
                      * (2 * r_i - m * (n + 1))) AS BIGINT) AS s4
      FROM sums CROSS JOIN consts GROUP BY n, m
    )
    SELECT n AS n_nations, m AS m_years,
           round(3.0 * s4 / (CAST(m AS DOUBLE) * m * (n * n * n - n)), 6)
             AS w_concordance,
           round(3.0 * s4 * (n - 1)
                 / (CAST(m AS DOUBLE) * (n * n * n - n)), 6)
             AS friedman_chi2,
           CAST(36.415 AS DOUBLE) AS chi2_crit_95,
           CAST(3.0 * s4 * (n - 1)
                / (CAST(m AS DOUBLE) * (n * n * n - n)) > 36.415
                AS INT) AS significant_95
    FROM s
    """,
)
def kendalls_w_nation_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W (Kendall & Babington
    Smith 1939) + the equivalent Friedman chi-square (Friedman 1937,
    chi2 = m(n-1)W) over the five yearly revenue RANKINGS of the 25
    nations: do the years agree on which nations are big? W = 1 is
    identical league tables every year, W = 0 is random reshuffling —
    the multi-rater agreement statistic (the m-ranking generalization
    of spearman_rho_daily, which is W's m=2 special case), tested at
    the df=24 chi-square 95% point.

    Fully exact (the cochran_armitage class — no floor guards): ranks
    are total-ordered (revenue desc, nation tie-break; exact-cents
    ties are absent in this data and the tie-break keeps both engines
    identical regardless), rank sums R_i and the 4x-scaled deviation
    sum S4 = sum((2R_i - m(n+1))^2) are exact BIGINTs, and
    W = 3*S4/(m^2(n^3-n)) is one double division.

    Scale: one fact scan -> (nation, year) hash agg; the per-year
    rank windows and everything after run on the 25 x 5 grid."""
    t = load(spark, sf_dir)
    annual = (
        t.orders.filter(
            (F.year("o_orderdate") >= KW_YEARS[0])
            & (F.year("o_orderdate") <= KW_YEARS[-1])
        )
        .join(
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("rev")
        )
    )
    ranked = annual.select(
        "nation",
        "yr",
        F.row_number()
        .over(
            W.partitionBy("yr").orderBy(F.col("rev").desc(), F.col("nation"))
        )
        .cast("long")
        .alias("rk"),
    )
    sums = ranked.groupBy("nation").agg(
        F.sum("rk").cast("long").alias("r_i"),
        F.count(F.lit(1)).cast("long").alias("m_i"),
    )
    # balanced-panel assertion (mirrors the oracle's error() guard): a
    # nation absent from one year would make m_i non-constant and
    # silently corrupt W/Friedman — fail loudly on both engines instead
    consts = sums.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            "CASE WHEN min(m_i) = max(m_i) THEN min(m_i)"
            " ELSE CAST(raise_error("
            "'kendalls_w_nation_ranks: unbalanced panel') AS BIGINT) END"
        )
        .cast("long")
        .alias("m"),
    )
    s = (
        sums.crossJoin(F.broadcast(consts))
        .groupBy("n", "m")
        .agg(
            F.sum(
                (2 * F.col("r_i") - F.col("m") * (F.col("n") + 1))
                * (2 * F.col("r_i") - F.col("m") * (F.col("n") + 1))
            )
            .cast("long")
            .alias("s4")
        )
    )
    w = F.expr(
        "3.0 * s4 / (CAST(m AS DOUBLE) * m * (n * n * n - n))"
    )
    chi2 = F.expr(
        "3.0 * s4 * (n - 1) / (CAST(m AS DOUBLE) * (n * n * n - n))"
    )
    return s.select(
        F.col("n").alias("n_nations"),
        F.col("m").alias("m_years"),
        F.round(w, 6).alias("w_concordance"),
        F.round(chi2, 6).alias("friedman_chi2"),
        F.lit(36.415).alias("chi2_crit_95"),
        (chi2 > 36.415).cast("int").alias("significant_95"),
    )


@register(
    "moran_i_regional",
    oracle="""
    WITH x AS (
      SELECT n.n_nationkey AS nk, n.n_regionkey AS rk,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(rev) AS BIGINT) AS s FROM x),
    z AS (
      SELECT rk,
             CAST(n AS DECIMAL(38,0)) * rev - CAST(s AS DECIMAL(38,0))
               AS z,
             n
      FROM x CROSS JOIN g
    ),
    per_region AS (
      SELECT rk, CAST(count(*) AS BIGINT) AS n_r,
             CAST(sum(z) AS DECIMAL(38,0)) AS sz,
             CAST(sum(z * z) AS DECIMAL(38,0)) AS szz
      FROM z GROUP BY rk
    ),
    agg AS (
      SELECT any_value(g.n) AS n,
             CAST(sum(pr.sz * pr.sz - pr.szz) AS DECIMAL(38,0)) AS num,
             CAST(sum(pr.szz) AS DECIMAL(38,0)) AS den,
             CAST(sum(pr.n_r * (pr.n_r - 1)) AS BIGINT) AS w_tot
      FROM per_region pr CROSS JOIN g
    )
    SELECT n AS n_nations, w_tot AS n_neighbor_pairs,
           round(CAST(n AS DOUBLE) * CAST(num AS DOUBLE)
                 / (w_tot * CAST(den AS DOUBLE)), 6) AS moran_i,
           round(-1.0 / (n - 1), 6) AS expected_i,
           CAST(CAST(n AS DOUBLE) * CAST(num AS DOUBLE)
                / (w_tot * CAST(den AS DOUBLE)) > -1.0 / (n - 1)
                AS INT) AS positive_autocorrelation
    FROM agg
    """,
)
def moran_i_regional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I spatial autocorrelation (Moran 1950) of national
    revenue under same-region adjacency: do nations in the same
    region have similar revenue levels? I = (n/W) sum_ij w_ij z_i z_j
    / sum z_i^2 with the binary same-region weight matrix — the
    spatial-econometrics workhorse, here with ZERO pair joins: within
    a region, sum_{i != j} z_i z_j = (sum_R z)^2 - sum_R z^2, so the
    whole double sum collapses to per-region aggregates (the same
    telescoping trick as graph_triangle_count's wedge count).
    Compared against the null expectation E[I] = -1/(n-1).

    Fully exact (no floor guards): deviations are the scaled integers
    n*x_i - S (DECIMAL 38), region sums/squares exact, and I is one
    double expression over four exact aggregates.

    Scale: one fact scan -> 25-nation agg; everything after runs on
    the 5-region table."""
    t = load(spark, sf_dir)
    x = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_nationkey").alias("nk"),
            F.col("n_regionkey").alias("rk"),
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("rev")
        )
    )
    g = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rev").cast("long").alias("s"),
    )
    z = x.crossJoin(F.broadcast(g)).select(
        "rk",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * rev - CAST(s AS DECIMAL(38,0))"
        ).alias("z"),
        "n",
    )
    per_region = z.groupBy("rk").agg(
        F.count(F.lit(1)).cast("long").alias("n_r"),
        F.expr("CAST(sum(z) AS DECIMAL(38,0))").alias("sz"),
        F.expr("CAST(sum(z * z) AS DECIMAL(38,0))").alias("szz"),
    )
    agg = per_region.crossJoin(F.broadcast(g)).agg(
        F.expr("any_value(n)").alias("n"),
        F.expr("CAST(sum(sz * sz - szz) AS DECIMAL(38,0))").alias("num"),
        F.expr("CAST(sum(szz) AS DECIMAL(38,0))").alias("den"),
        F.sum(F.col("n_r") * (F.col("n_r") - 1))
        .cast("long")
        .alias("w_tot"),
    )
    i_expr = F.expr(
        "CAST(n AS DOUBLE) * CAST(num AS DOUBLE)"
        " / (w_tot * CAST(den AS DOUBLE))"
    )
    return agg.select(
        F.col("n").alias("n_nations"),
        F.col("w_tot").alias("n_neighbor_pairs"),
        F.round(i_expr, 6).alias("moran_i"),
        F.round(F.expr("CAST(-1.0 AS DOUBLE) / (n - 1)"), 6).alias(
            "expected_i"
        ),
        (i_expr > F.expr("CAST(-1.0 AS DOUBLE) / (n - 1)")).cast("int").alias(
            "positive_autocorrelation"
        ),
    )


@register(
    "cart_best_split",
    oracle="""
    WITH panel AS (
      SELECT CAST(round(c.c_acctbal * 100, 0) AS BIGINT) AS x,
             CASE WHEN cv.o_custkey IS NULL THEN 0 ELSE 1 END AS y
      FROM customer c
      LEFT JOIN (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      ) cv ON cv.o_custkey = c.c_custkey
    ),
    vals AS (
      SELECT x, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS pos
      FROM panel GROUP BY x
    ),
    cum AS (
      SELECT x,
             CAST(sum(cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS nl,
             CAST(sum(pos) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS pl,
             CAST(sum(cnt) OVER () AS BIGINT) AS n,
             CAST(sum(pos) OVER () AS BIGINT) AS p
      FROM vals
    ),
    scored AS (
      SELECT x AS threshold_cents, nl, n - nl AS nr, pl, p - pl AS pr,
             n, p,
             CAST(floor((
               (CAST(pl AS DOUBLE) * pl
                + CAST(nl - pl AS DOUBLE) * (nl - pl)) / nl
               + (CAST(p - pl AS DOUBLE) * (p - pl)
                  + CAST((n - nl) - (p - pl) AS DOUBLE)
                    * ((n - nl) - (p - pl))) / (n - nl)
               - (CAST(p AS DOUBLE) * p
                  + CAST(n - p AS DOUBLE) * (n - p)) / n
             ) / n * 1000000000 + 0.001) AS BIGINT) AS gain_nano
      FROM cum WHERE nl > 0 AND nl < n
    )
    SELECT round(threshold_cents / 100.0, 2) AS threshold_dollars,
           nl AS n_left, nr AS n_right,
           round(pl * 1.0 / nl, 6) AS conv_rate_left,
           round(pr * 1.0 / nr, 6) AS conv_rate_right,
           gain_nano,
           round(gain_nano / 1000000000.0, 6) AS gini_gain
    FROM scored
    ORDER BY gain_nano DESC, threshold_cents LIMIT 5
    """,
)
def cart_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CART decision-stump search (Breiman et al. 1984): the single
    account-balance threshold that best splits 1996 converters from
    non-converters by Gini impurity reduction — the INNER LOOP of
    every tree/GBM induction, expressed as one prefix-sum scan over
    the sorted value table instead of per-threshold passes (gain for
    EVERY candidate cut comes from the same cumulative (n_l, pos_l)
    pair; the n*Gini = n - (pos^2+neg^2)/n identity keeps it to three
    ratio terms). Top-5 cuts with their left/right conversion rates —
    the interpretable 'where does behavior change' readout, and the
    white-box complement to the MLlib tree models (ml/classify.py)
    whose split logic is internal.

    Determinism: class counts are exact prefix-sum integers; each
    candidate's gain is one double expression over them floored to
    1e-9 for the ranking, ties broken on the threshold. Degenerate
    cuts (empty side) are excluded identically.

    Scale: one fact scan for labels, one customer scan; the candidate
    scan is one window over the value-cardinality table (the oracle's
    single window; at scale the same two-phase global_order_stats
    decomposition every ranking query uses applies)."""
    t = load(spark, sf_dir)
    conv = (
        t.orders.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
    )
    panel = t.customer.join(
        conv, F.col("c_custkey") == F.col("ck"), "left"
    ).select(
        F.expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").alias("x"),
        F.when(F.col("ck").isNull(), 0).otherwise(1).alias("y"),
    )
    vals = (
        panel.groupBy("x")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("y").cast("long").alias("pos"),
        )
        # global_order_stats needs a non-negative integral sort image;
        # balances go to -$1000, so order by the shifted monotone copy
        .withColumn("xs", (F.col("x") + 200_000).cast("long"))
        .localCheckpoint(eager=True)
    )
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    nl = global_order_stats(
        vals, "xs", "x", measure_col="cnt", ascending=True
    ).select("x", F.col("global_cum").cast("long").alias("nl"))
    pl = global_order_stats(
        vals, "xs", "x", measure_col="pos", ascending=True
    ).select(
        F.col("x").alias("x2"), F.col("global_cum").cast("long").alias("pl")
    )
    tot = vals.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
    )
    cum = (
        nl.join(pl, F.col("x") == F.col("x2"))
        .crossJoin(F.broadcast(tot))
        .select("x", "nl", "pl", "n", "p")
    )
    scored = cum.filter(
        (F.col("nl") > 0) & (F.col("nl") < F.col("n"))
    ).selectExpr(
        "x AS threshold_cents",
        "nl",
        "n - nl AS nr",
        "pl",
        "p - pl AS pr",
        "CAST(floor(("
        " (CAST(pl AS DOUBLE) * pl"
        "  + CAST(nl - pl AS DOUBLE) * (nl - pl)) / nl"
        " + (CAST(p - pl AS DOUBLE) * (p - pl)"
        "    + CAST((n - nl) - (p - pl) AS DOUBLE)"
        "      * ((n - nl) - (p - pl))) / (n - nl)"
        " - (CAST(p AS DOUBLE) * p"
        "    + CAST(n - p AS DOUBLE) * (n - p)) / n"
        ") / n * 1000000000 + 0.001) AS BIGINT) AS gain_nano",
    )
    return (
        scored.select(
            F.round(F.col("threshold_cents") / 100.0, 2).alias(
                "threshold_dollars"
            ),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            F.round(F.col("pl") * 1.0 / F.col("nl"), 6).alias(
                "conv_rate_left"
            ),
            F.round(F.col("pr") * 1.0 / F.col("nr"), 6).alias(
                "conv_rate_right"
            ),
            "gain_nano",
            F.round(F.col("gain_nano") / 1_000_000_000.0, 6).alias(
                "gini_gain"
            ),
        )
        .orderBy(F.col("gain_nano").desc(), "threshold_dollars")
        .limit(5)
    )


_PC_TERM = "CAST({t} AS DOUBLE) / n_g"


@register(
    "partial_correlation_weekday",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    tagged AS (
      SELECT dayofweek(day) AS dow, x, y FROM daily
    ),
    per_g AS (
      SELECT dow,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(y) AS DECIMAL(38,0)) AS sy,
             sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
             sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             sum(CAST(y AS DECIMAL(38,0)) * y) AS syy
      FROM tagged GROUP BY dow
    ),
    terms AS (
      SELECT n_g,
             {_PC_TERM.format(t='n_g * sxy - sx * sy')} AS txy,
             {_PC_TERM.format(t='n_g * sxx - sx * sx')} AS txx,
             {_PC_TERM.format(t='n_g * syy - sy * sy')} AS tyy,
             sx, sy, sxy, sxx, syy
      FROM per_g
    ),
    pooled AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             sum(txy) AS pxy,
             sum(txx) AS pxx,
             sum(tyy) AS pyy,
             CAST(sum(sx) AS DECIMAL(38,0)) AS gx,
             CAST(sum(sy) AS DECIMAL(38,0)) AS gy,
             CAST(sum(sxy) AS DECIMAL(38,0)) AS gxy,
             CAST(sum(sxx) AS DECIMAL(38,0)) AS gxx,
             CAST(sum(syy) AS DECIMAL(38,0)) AS gyy
      FROM terms
    )
    SELECT n AS n_days,
           round((CAST(n AS DOUBLE) * CAST(gxy AS DOUBLE)
                  - CAST(gx AS DOUBLE) * CAST(gy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(gxx AS DOUBLE)
                         - CAST(gx AS DOUBLE) * CAST(gx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(gyy AS DOUBLE)
                           - CAST(gy AS DOUBLE) * CAST(gy AS DOUBLE))),
                 6) AS raw_pearson,
           round(CAST(pxy AS DOUBLE)
                 / sqrt(CAST(pxx AS DOUBLE) * CAST(pyy AS DOUBLE)), 6)
             AS weekday_partial_r
    FROM pooled
    """,
)
def partial_correlation_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of daily order count and daily revenue
    CONTROLLING FOR day-of-week: group-demeaned (within-weekday)
    Pearson next to the raw one — if the raw correlation were mostly
    the shared weekly cycle, the partial would collapse; here both are
    high, proving count genuinely drives revenue beyond seasonality.
    The 'controlling for' primitive the correlation row lacked
    (correlation_matrix/spearman are marginal associations).

    Determinism: per-weekday moment sums are exact DECIMAL(38,0); the
    within-group centered terms n_g*Sxy - SxSy are exact wide
    integers (the squared-cents magnitudes exceed BIGINT fixed-point
    range, so the single per-group division by n_g stays double and
    the pool is a 7-term double sum — the survival_km accepted class:
    1e-16 ulp reorder noise sits ~10 orders below the 6-dp rounding);
    the raw Pearson uses whole-series exact moments with one double
    expression.

    Scale: one fact scan -> day table; everything else on the 7-row
    weekday rollup."""
    o = load(spark, sf_dir).orders
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT)"
        ).alias("y"),
    )
    per_g = daily.groupBy(F.dayofweek("day").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    terms = per_g.selectExpr(
        "n_g",
        f"{_PC_TERM.format(t='n_g * sxy - sx * sy')} AS txy",
        f"{_PC_TERM.format(t='n_g * sxx - sx * sx')} AS txx",
        f"{_PC_TERM.format(t='n_g * syy - sy * sy')} AS tyy",
        "sx",
        "sy",
        "sxy",
        "sxx",
        "syy",
    )
    pooled = terms.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("txy").alias("pxy"),
        F.sum("txx").alias("pxx"),
        F.sum("tyy").alias("pyy"),
        F.expr("CAST(sum(sx) AS DECIMAL(38,0))").alias("gx"),
        F.expr("CAST(sum(sy) AS DECIMAL(38,0))").alias("gy"),
        F.expr("CAST(sum(sxy) AS DECIMAL(38,0))").alias("gxy"),
        F.expr("CAST(sum(sxx) AS DECIMAL(38,0))").alias("gxx"),
        F.expr("CAST(sum(syy) AS DECIMAL(38,0))").alias("gyy"),
    )
    return pooled.selectExpr(
        "n AS n_days",
        "round((CAST(n AS DOUBLE) * CAST(gxy AS DOUBLE)"
        " - CAST(gx AS DOUBLE) * CAST(gy AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(gxx AS DOUBLE)"
        "         - CAST(gx AS DOUBLE) * CAST(gx AS DOUBLE))"
        "        * (CAST(n AS DOUBLE) * CAST(gyy AS DOUBLE)"
        "           - CAST(gy AS DOUBLE) * CAST(gy AS DOUBLE))), 6)"
        " AS raw_pearson",
        "round(CAST(pxy AS DOUBLE)"
        " / sqrt(CAST(pxx AS DOUBLE) * CAST(pyy AS DOUBLE)), 6)"
        " AS weekday_partial_r",
    )
