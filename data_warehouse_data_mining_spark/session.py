"""SparkSession factory.

The reference boots a single-threaded local session with 4g driver
memory (reference: stroke_predict.py:16-20). Here the session is tuned
for the actual target — a multi-executor cluster — while remaining
correct on local[N]:

* AQE on: runtime coalescing of shuffle partitions, skew-join handling,
  and dynamic join-strategy switching — all essential at 100 TB where
  static planning over stale stats misjudges shuffle sizes.
* ``spark.sql.shuffle.partitions`` defaults to a small value suitable
  for local runs; on a real cluster AQE's coalescing makes the initial
  number mostly a ceiling.
* Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC) exactly.
* Arrow enabled for all pandas interchange (Pandas UDFs, toPandas).

``local_frame`` is the one way the package turns driver-side rows into
a DataFrame: an Arrow table handed to the JVM plans as a
``LocalTableScan``, where ``createDataFrame(list)`` runs a Python-RDD
job for every frame it makes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_session(
    app_name: str = "data_warehouse_data_mining_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    On a cluster, ``master`` comes from spark-submit; locally defaults
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    n_threads = _parse_local_threads(master)
    if shuffle_partitions is None:
        # local: ~cores; cluster masters fall back to a scale-friendly
        # default and rely on AQE coalescing.
        shuffle_partitions = n_threads if n_threads else 2048
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # events.parquet carries nanosecond timestamps, which Spark's
        # parquet reader refuses by default; read them as raw ns longs —
        # catalog.py converts to microsecond timestamps (same floor-
        # truncation DuckDB applies to ns).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _parse_local_threads(master: str) -> int | None:
    if master == "local":
        return 1
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return None
    return None


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A JVM-local DataFrame of driver-side ``rows`` (tuples in the
    column order of the DDL ``schema``).

    The rows go through a ``pyarrow.Table``, so the frame plans as a
    ``LocalTableScan`` and starts no job of its own. Values keep their
    identity: float NaN stays NaN and None becomes null, in every
    column type, ``array<double>`` included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=field.type)
            for i, field in enumerate(arrow)
        ],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)
