"""SparkSession factory tuned for this engine, and the one constructor
of driver-held tables.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-plan + skew-join backstop), Arrow enabled for pandas UDFs,
shuffle partitions sized to cores instead of the 200 default.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster this function is a no-op passthrough: spark-submit
    owns master/deploy settings and we only apply SQL conf.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # console progress bars interleave \r into harness stdout and
        # mangle line-oriented gate/bench output
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_frame(
    spark: SparkSession, rows: Iterable[tuple], ddl: str
) -> DataFrame:
    """A DataFrame of driver-held ``rows`` (tuples in the column order of
    the DDL schema ``ddl``), shipped to the JVM as Arrow record batches.

    The rows become a ``LocalRelation``: no query that reads them starts
    a Python worker. A list handed to ``createDataFrame`` is instead a
    ``PythonRDD`` that every reading query re-runs through Python
    workers. Every table the crawl builds on the driver (budgets,
    grants, seeds, empty frames) comes from here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = DataType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
