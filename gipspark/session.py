"""SparkSession factory with scale-oriented defaults.

Local mode is the test surrogate for a multi-executor cluster
(BASELINE.md protocol): one JVM, N threads. All settings below are the
ones that transfer to a real cluster — AQE (runtime re-planning +
skew-join splitting), Arrow for the pandas-UDF boundary, UTC timestamps
for oracle comparison, and shuffle partitions sized to parallelism
rather than the 200 default. :func:`local_frame` builds small driver-side
frames (dims, seeds, offsets) as LocalRelations.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def local_frame(spark: SparkSession, rows: Sequence[Any], schema: StructType | str) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` planned as a LocalRelation.

    Given a Python list, classic PySpark plans a ``LogicalRDD`` over
    ``sc.parallelize``, and every action on a plan that holds the frame
    runs ``defaultParallelism`` Python tasks to re-pickle the rows. A
    Python task costs 0.14–0.29 CPU-s however few rows it carries
    (measured in workers on a 4-vCPU VM): each one calls
    ``importlib.invalidate_caches()``, which re-reads the central
    directory of every zip-backed import path of the worker (pyspark.zip,
    the py4j zip, the spark-core jar). A 2-row list frame's ``collect()``
    costs 1.1 worker CPU-s at 4-way parallelism; this helper's, none.
    Here the rows become a ``pyarrow.Table`` of the schema's Arrow types
    on the driver, which Spark plans as a LocalRelation: the rows ride in
    the plan and no Python task runs.

    ``rows`` are tuples, Rows or dicts, nested structs too; ``schema`` is
    a StructType or a DDL string. The conversion is PySpark's own
    local-rows-to-Arrow one (the Spark Connect client's), so types,
    nullability checks and values are those of the list path.
    """
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    rows = list(rows)
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, use_large_var_types=False)
    else:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)


def get_spark(
    app: str = "gipspark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    task_cpus: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the gipspark engine.

    ``parallelism`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores.
    ``shuffle_partitions`` defaults to 2×parallelism — enough splits for
    AQE to coalesce, few enough to avoid tiny-task overhead locally.
    """
    cores = int(parallelism or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    shuffle = int(shuffle_partitions or 2 * cores)
    # task_cpus=1 even for pandas-UDF stages: with the fused single
    # python pass + small Arrow batches (below), the JVM thread and the
    # python worker of one task PIPELINE (JVM serializes batch k+1 /
    # drains k-1 while python crunches k), so a slot genuinely keeps
    # ~one core busy on each side in alternation, not two at once.
    # task_cpus=2 halves the slot count and measured 2.2× slower on the
    # enrich stage at local[32] (BENCH.md "arrow batch pipelining").
    tcpus = int(task_cpus or os.environ.get("GIPSPARK_TASK_CPUS") or 1)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16k rows/batch, not the 65k default-ish sizing: html rows are
        # ~1 KB, so 64k-row batches are ~64 MB units that serialize the
        # JVM↔python pipeline into lockstep (python idles while the JVM
        # marshals one giant batch and vice versa). 8–16k batches keep
        # both sides streaming; measured 2.2× on the enrich stage
        # (BENCH.md "arrow batch pipelining").
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.driver.memory", os.environ.get("GIPSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.task.cpus", str(tcpus))
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
