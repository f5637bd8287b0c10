"""SparkSession factory tuned for this engine, and the one constructor
of driver-held tables.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-plan + skew-join backstop), Arrow enabled for pandas UDFs,
shuffle partitions sized to cores instead of the 200 default, and a
generated-class cache large enough to hold every class a crawl, its
learn phases and curation compile (``CODEGEN_CACHE_ENTRIES``), so a
warm round compiles nothing. That cache size is a static SQL conf: it
is fixed when the session is created, and a session built elsewhere
(spark-submit, a notebook) keeps its own value.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

# Entries in Spark's generated-class cache (spark.sql.codegen.cache.maxEntries,
# default 100). The working set, counted in one driver with a large cache:
# round_churn's crawl compiles 177 distinct classes, its learn_outputs 99 and
# its curation 86; bulk_crawl's crawl then adds 35 and its curation 47, about
# 450 in all. At 100 entries the rounds evict each other's classes and every
# round recompiles 89-103 of them (about 7 ms each). 2,000 leaves headroom
# for the other plan shapes a long-lived driver runs.
CODEGEN_CACHE_ENTRIES = 2000


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

    The generated-class cache holds ``CODEGEN_CACHE_ENTRIES`` classes, so
    repeated rounds reuse their compiled classes instead of evicting
    each other's (a round manifest's ``codegen_compiles`` shows it), and
    generated class names leave out the whole-stage codegen stage id, so
    a pipeline that AQE numbers differently from one run to the next
    still finds its class. The cache size is a static SQL conf: it takes
    effect only when this call creates the session; a session that
    already exists, or one built elsewhere, keeps its own value.
    ``extra_conf`` can override both settings.
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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # the cache is keyed by source text; with the whole-stage codegen
        # stage id in the class name, the same pipeline numbered
        # differently by AQE (stage order varies with timing) misses it
        .config("spark.sql.codegen.useIdInClassName", "false")
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
