"""The benchmark's workloads: which ops run, over how much data, and how
each op's output is checked.

An op is a builder call (``build``, returns a DataFrame) followed by its
sink action (``sink``). Registered queries sink into Spark's ``noop``
format, which runs the whole plan without collecting. Their check is
``oracle.compare_query`` against DuckDB over the same parquet files.
The warehouse workload also writes lineitem through
``sinks.writers.write_partitioned`` and reads a filtered aggregate back
from the written table; both are checked against DuckDB over the
source table.

Why each workload exists is in README.md beside this file.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Workload:
    name: str
    # scale factor of the fixed test tables the ops read
    sf: float
    # op groups: the seed shuffles groups, never the ops inside one
    groups: list[list[str]]

    @property
    def ops(self) -> list[str]:
        return [op for g in self.groups for op in g]


def data_dir(sf: float) -> str:
    """The fixed, read-only test tables at scale ``sf``: the sibling
    ``sf<sf>`` directory of the catalog's default data directory
    (``SPARK_GRAFT_SF_DIR``). The run seed never changes them; it
    shuffles the op order instead."""
    from data_warehouse_data_mining_spark import catalog

    path = os.path.join(os.path.dirname(catalog.DEFAULT_SF_DIR), f"sf{sf}")
    missing = [t for t in catalog.TABLE_NAMES
               if not os.path.isfile(os.path.join(path, f"{t}.parquet"))]
    if missing:
        raise FileNotFoundError(f"no test tables {missing} in {path}")
    return path


WRITE_OP = "sinks.write_partitioned"
READ_OP = "sinks.read_back"

WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "warehouse_sql", sf=0.01,
            groups=[[q] for q in [
                "pricing_summary", "revenue_by_nation",
                "regional_supplier_volume", "topk_per_group",
                "tumbling_window_counts", "shipping_priority",
                "rollup_sales", "running_total",
            ]] + [[WRITE_OP, READ_OP]],
        ),
        Workload(
            "iterative_ml", sf=0.001,
            groups=[[q] for q in [
                "graph_pagerank", "smote_rebalance_counts",
                "ml_random_forest_report",
            ]],
        ),
    ]
}

# the read-back filter and its DuckDB mirror
_READ_CUTOFF = "1998-01-01"
_READ_SQL = f"""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(l_quantity) AS BIGINT) AS qty
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '{_READ_CUTOFF}'
    GROUP BY l_returnflag ORDER BY l_returnflag
"""


def noop_sink(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    name: str
    build: Callable[[], DataFrame]
    sink: Callable[[DataFrame], None]
    verify: Callable[[], str | None]


def make_ops(
    workload: Workload, spark: SparkSession, queries: dict, modules,
    data_dir: str, sink_dir: str, duck,
) -> dict[str, Op]:
    """Bind every op of ``workload`` to this session and data.

    ``modules`` is the freshly imported package namespace (oracle,
    catalog, writers), ``duck`` a DuckDB connection with the tables as
    views."""
    ops: dict[str, Op] = {}
    for name in workload.ops:
        if name in (WRITE_OP, READ_OP):
            continue
        q = queries[name]

        def build(q=q):
            return q.builder(spark, data_dir)

        if q.oracle is None:
            def verify(build=build, name=name):
                n = build().count()
                return None if n > 0 else f"{name}: no rows"
        else:
            def verify(name=name):
                return modules.oracle.compare_query(name, spark, duck, data_dir)

        ops[name] = Op(name, build, noop_sink, verify)

    if WRITE_OP in workload.ops:
        out = os.path.join(sink_dir, "lineitem_by_returnflag")

        def build_write():
            return modules.catalog.load(spark, data_dir).lineitem

        def sink_write(df):
            modules.writers.write_partitioned(df, out, ["l_returnflag"])

        def verify_write():
            sink_write(build_write())
            got = spark.read.parquet(out).count()
            want = duck.execute("SELECT count(*) FROM lineitem").fetchone()[0]
            return None if got == want else f"wrote {got} rows of {want}"

        def build_read():
            return (
                spark.read.parquet(out)
                .where(F.col("l_shipdate") >= F.lit(_READ_CUTOFF).cast("timestamp"))
                .groupBy("l_returnflag")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("l_quantity").cast("bigint").alias("qty"),
                )
                .orderBy("l_returnflag")
            )

        def verify_read():
            got = [tuple(r) for r in build_read().collect()]
            want = duck.execute(_READ_SQL).fetchall()
            return None if got == want else f"read back {got}, want {want}"

        ops[WRITE_OP] = Op(WRITE_OP, build_write, sink_write, verify_write)
        ops[READ_OP] = Op(READ_OP, build_read, noop_sink, verify_read)
    return ops
