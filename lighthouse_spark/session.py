"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[N]``; the same configuration keys are
what we would pass to spark-submit on a real cluster (AQE on, Arrow on,
shuffle partitions sized to the cluster, broadcast threshold for the
stats side tables).
"""

from __future__ import annotations

import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession


def _default_driver_memory() -> str:
    """Half of physical RAM, capped at 24g. In local mode the driver
    JVM runs every task, and a heap sized near physical RAM lets it
    grow until the kernel OOM-kills it instead of collecting."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "24g"
    return f"{min(24 * 1024, max(1024, total // 2 // 2**20))}m"


def get_spark(
    app_name: str = "lighthouse_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to the core count — at cluster scale this would
    be ~2-3x total executor cores instead; AQE coalesces either way.
    The driver heap is $SPARK_DRIVER_MEM, else half of physical RAM
    capped at 24g.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable[tuple], ddl: str) -> DataFrame:
    """A driver-side side frame (query specs, literal id lists, empty
    results) with exactly ``ddl``'s schema, planned as a LocalTableScan.

    ``spark.createDataFrame(<list>, ddl)`` plans a Python-RDD scan: on
    PySpark 4.1.2 every job that reads it starts Python worker tasks,
    even for an empty list. An Arrow table with the DDL's schema plans
    as a local relation and starts none. Each row is a tuple in the
    DDL's column order; a row of any other length raises ValueError.
    Values convert to the column's type (an int into a double column)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = DataType.fromDDL(ddl)
    rows = [tuple(r) for r in rows]
    width = len(schema.fields)
    for r in rows:
        if len(r) != width:
            raise ValueError(f"row {r!r} has {len(r)} values; {ddl!r} has {width} columns")
    arrow = to_arrow_schema(schema)
    cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema=schema)
