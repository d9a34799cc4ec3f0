"""SparkSession builder with scale-appropriate defaults.

The engine targets large multi-executor clusters; locally we run
``local[N]``. Every knob below is chosen for the 100 TB posture:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting
  and dynamic join-strategy switching replace hand-tuned page sizes
  (the reference hand-sizes ROWNUM pages, cmd/root.go:308-340).
- Session timezone pinned to UTC: the reference renders DATE/TIMESTAMP
  in the client's local zone (cmd/root.go:400-421); we make tz explicit
  so results are reproducible across clusters.
- Arrow enabled for the few pandas-UDF extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "sparksync",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    tz: str = "UTC",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and bench
    share one code path; on a real cluster the caller passes ``None`` with
    ``--master`` supplied by spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # fixture events.parquet uses TIMESTAMP(NANOS); Spark 4 only reads
        # it as a raw long (queries.load converts back to timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # At 100 TB a single parquet split must stay executor-memory sized.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Dimension tables (region/nation/...) should broadcast; 64 MB
        # threshold keeps every TPC-H-ish dim on the broadcast path.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """A DataFrame over driver-built ``rows``, as a JVM-side relation.

    ``createDataFrame`` over a Python list plans a ``LogicalRDD`` over a
    Python RDD, so every action on it forks Python workers to re-serialize
    the rows. Handing Spark an Arrow table instead gives a ``LocalRelation``
    (an RDD built in the JVM above
    ``spark.sql.execution.arrow.localRelationThreshold``): no Python
    worker runs either way. ``schema`` is a DDL string or a StructType;
    the result has exactly that schema, nullability included.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=f.type)
            for i, f in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
