"""information_schema views + SHOW statement support.

The reference rewrites SHOW TABLES/COLUMNS/SCHEMAS into SELECTs over
information_schema before planning (core/trino-main/.../sql/rewrite/
ShowQueriesRewrite.java; the schema itself is served by
main/connector/informationschema/InformationSchemaMetadata.java). Same
approach here: two temp views built from the engine catalog, plus the
SHOW → SELECT handlers of TrinoEngine's dispatch table.
"""

from __future__ import annotations

from pyspark.sql import Row, SparkSession

from trino_spark.session import local_frame


def register_information_schema(spark: SparkSession, tables: dict[str, list[tuple[str, str]]]) -> None:
    """tables: name -> [(column_name, data_type)]."""
    trows = [
        Row(table_catalog="spark", table_schema="default", table_name=t, table_type="BASE TABLE")
        for t in sorted(tables)
    ]
    crows = [
        Row(
            table_catalog="spark",
            table_schema="default",
            table_name=t,
            column_name=c,
            ordinal_position=i + 1,
            data_type=dt,
        )
        for t, cols in sorted(tables.items())
        for i, (c, dt) in enumerate(cols)
    ]
    # explicit schemas: an engine whose LAST table is dropped refreshes
    # with zero rows, and schema inference cannot run on an empty list
    tschema = (
        "table_catalog string, table_schema string, table_name string, table_type string"
    )
    cschema = (
        "table_catalog string, table_schema string, table_name string,"
        " column_name string, ordinal_position int, data_type string"
    )
    local_frame(spark, trows, tschema).createOrReplaceTempView(
        "information_schema_tables"
    )
    local_frame(spark, crows, cschema).createOrReplaceTempView(
        "information_schema_columns"
    )


def _show_tables(engine, stmt):
    return engine.spark.sql("SELECT table_name FROM information_schema_tables ORDER BY table_name")


def _show_schemas(engine, stmt):
    if getattr(engine, "schemas", None):
        # CREATE SCHEMA-registered schemas union the table namespace
        # (#showSchemas; the flat namespace maps to 'default').
        rows = sorted(set(engine.schemas) | {"default"})
        return local_frame(engine.spark, [(s,) for s in rows], "schema_name: string")
    return engine.spark.sql(
        "SELECT DISTINCT table_schema AS schema_name FROM information_schema_tables"
    )


def show_columns(spark: SparkSession, table: str):
    """SHOW COLUMNS FROM t, and DESCRIBE t, as a SELECT over
    information_schema_columns."""
    t = table.strip('"')
    return spark.sql(
        "SELECT column_name, data_type, ordinal_position "
        f"FROM information_schema_columns WHERE table_name = '{t}' "
        "ORDER BY ordinal_position"
    )


def _show_columns(engine, stmt):
    words = stmt.text.split()
    if len(words) < 4 or words[2].upper() not in ("FROM", "IN"):
        return None
    return show_columns(engine.spark, words[3])


def show_stats(spark: SparkSession, table: str, cache: dict | None = None, populate: bool = False):
    """SHOW STATS FOR <table> — Trino's table statistics surface
    (reference: ShowStatsRewrite.java; stats model spi/statistics/).

    Output shape matches the reference: one row per column
    (data_size for varchars, approx NDV, null fraction, min/max rendered
    as varchar) plus a summary row with row_count. Computed on demand in
    ONE aggregation pass over the table (each metric is a column of a
    single agg — no per-column scans); only the 1-row agg result is
    collected. When an ANALYZE-populated `cache` holds the table, the
    cached relation is served without a scan (AnalyzeTask.java: ANALYZE
    persists statistics, SHOW STATS reads them back). Only ANALYZE
    populates the cache (populate=True) — a plain SHOW STATS on a
    never-analyzed table always computes fresh, so refreshed MVs or
    re-registered generator views cannot serve stale numbers."""
    if cache is not None and table in cache:
        rows, schema = cache[table]
        return local_frame(spark, rows, schema)
    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType, StringType

    df = spark.table(table)
    aggs = [F.count(F.lit(1)).cast("double").alias("__rows")]
    fields = [f for f in df.schema.fields]
    for f in fields:
        c = f.name
        aggs.append(F.approx_count_distinct(c).cast("double").alias(f"{c}__ndv"))
        aggs.append(F.avg(F.col(c).isNull().cast("double")).alias(f"{c}__nulls"))
        if isinstance(f.dataType, StringType):
            aggs.append(F.sum(F.length(c)).cast("double").alias(f"{c}__size"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__size"))
        if isinstance(f.dataType, NumericType) or f.dataType.simpleString() in ("date", "timestamp"):
            aggs.append(F.min(c).cast("string").alias(f"{c}__lo"))
            aggs.append(F.max(c).cast("string").alias(f"{c}__hi"))
        else:
            aggs.append(F.lit(None).cast("string").alias(f"{c}__lo"))
            aggs.append(F.lit(None).cast("string").alias(f"{c}__hi"))
    row = df.agg(*aggs).first()

    out = [
        (
            f.name,
            row[f"{f.name}__size"],
            row[f"{f.name}__ndv"],
            row[f"{f.name}__nulls"],
            None,
            row[f"{f.name}__lo"],
            row[f"{f.name}__hi"],
        )
        for f in fields
    ] + [(None, None, None, None, row["__rows"], None, None)]
    schema = (
        "column_name string, data_size double, distinct_values_count double, "
        "nulls_fraction double, row_count double, low_value string, high_value string"
    )
    if cache is not None and populate:
        cache[table] = (out, schema)
    return local_frame(spark, out, schema)


HANDLERS = {
    "SHOW TABLES": _show_tables,
    "SHOW SCHEMAS": _show_schemas,
    "SHOW COLUMNS": _show_columns,
}
