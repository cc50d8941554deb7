"""SparkSession factory tuned for the engine.

Mirrors the role of Trino's session/system properties
(reference: core/trino-main/src/main/java/io/trino/SystemSessionProperties.java:108)
but as Spark conf: AQE (Trino's AdaptivePlanner analog), CBO (Trino's
cost-based ReorderJoins/DetermineJoinDistributionType analog), runtime
bloom-filter join reduction (Trino's dynamic filtering,
main/server/DynamicFilterService.java:101).

Scale notes (100 TB design intent):
- AQE owns the runtime shuffle-partition count; `spark.sql.shuffle.partitions`
  is only the pre-AQE upper bound, so we set it from the local core count for
  tests while `initialPartitionNum` would be raised on a real cluster.
- Runtime bloom filters + DPP reduce probe-side scans exactly where Trino's
  dynamic filtering does.
- Arrow enabled: every Python-side operator (pandas UDFs) moves columnar
  batches, never rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Pre-AQE shuffle parallelism: match local cores for tests; a real cluster
# raises this (or relies on AQE coalescing from a high initial count).
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "trino_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Defaults are correctness-first (UTC session zone, ANSI off to match
    Trino's permissive double arithmetic on the testdata) and
    performance-second (AQE, CBO, bloom-filter runtime join reduction).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", _DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI mode off: testdata uses doubles (not decimals); Trino's
        # double arithmetic is non-ANSI-strict too.
        .config("spark.sql.ansi.enabled", "false")
        # --- adaptive execution (Trino: AdaptivePlanner / skew rebalancer) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- CBO (Trino: ReorderJoins + DetermineJoinDistributionType) ---
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # --- runtime filters (Trino: DynamicFilterService) ---
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        # InferFiltersFromGenerate rewrites explode(f(x)) into
        # Filter(size(f(x))>0) + explode and pushes that filter to the scan,
        # duplicating the (possibly expensive, lambda-bearing) array
        # expression below every repartition — measured 20x slowdown on the
        # dedup shingle pipelines. The guard only skips empty arrays, which
        # our generators handle anyway.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # --- Python/Arrow boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet ns timestamps in testdata (events.ts): Spark rejects
        # TIMESTAMP(NANOS) outright; read as long and rebuild µs timestamps
        # in the catalog loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Trino's map_concat/map_union keep the LAST value for a key seen
        # in multiple maps (MapConcatFunction.java); Spark's default policy
        # raises DUPLICATED_MAP_KEY instead. Trade-off: duplicate keys in a
        # single map() constructor now silently dedup rather than error.
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list, schema: str | StructType) -> DataFrame:
    """A DataFrame over rows the driver already holds, as a LocalRelation.

    `spark.createDataFrame(list, schema)` parallelizes the rows into an
    RDD, so every read of the frame is an ExistingRDD scan that runs a
    Spark job with Python worker tasks. Going through Arrow instead
    (ArrowConverters.toDataFrame) plans a LocalTableScan: Project/Filter
    fold into it and collecting it runs no job — the way Trino answers
    SHOW, information_schema and DML row counts on the coordinator.
    `rows` are tuples or Rows; `schema` is a DDL string or StructType.
    """
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    table = (
        LocalDataToArrowConversion.convert(rows, struct, use_large_var_types=False)
        if rows
        else to_arrow_schema(struct).empty_table()
    )
    return spark.createDataFrame(table, schema=struct)
