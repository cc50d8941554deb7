"""session.local_frame: engine-made frames as driver-local relations.

The helper must give the same rows and schema as the classic
spark.createDataFrame(list, schema) it replaced, and the frames the
engine builds with it must plan as LocalTableScan, not as an RDD scan
that starts a Spark job."""

import datetime
import decimal
import uuid

import pytest
from pyspark.sql import Row

from trino_spark.dialect import TrinoEngine
from trino_spark.session import local_frame

_CASES = [
    ([("a",), (None,)], "s: string"),
    ([(1, 2**40), (None, -1)], "i: int, b: bigint"),
    ([(1.5, True), (None, None), (-0.0, False)], "d: double, f: boolean"),
    # naive UTC datetimes, as TrinoEngine._log_query stores them
    (
        [(datetime.datetime(2024, 1, 2, 3, 4, 5, 678901), datetime.date(2024, 2, 29)), (None, None)],
        "ts: timestamp, dt: date",
    ),
    ([(decimal.Decimal("12.34"),), (None,)], "x: decimal(10,2)"),
    ([(["a", None, "b"],), ([],), (None,)], "tags: array<string>"),
    ([({"k": 1, "j": None},), ({},), (None,)], "m: map<string,bigint>"),
    ([Row(name="n", rows=3), Row(name=None, rows=None)], "name string, rows bigint"),
    ([], "a: string, b: bigint"),
]


@pytest.mark.parametrize("rows,schema", _CASES)
def test_matches_create_dataframe(spark, rows, schema):
    new = local_frame(spark, rows, schema)
    old = spark.createDataFrame(rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()


def test_struct_type_schema(spark):
    schema = spark.createDataFrame([], "a: string, b: array<bigint>").schema
    rows = [("x", [1, None])]
    assert local_frame(spark, rows, schema).collect() == spark.createDataFrame(rows, schema).collect()


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    eng = TrinoEngine(spark, sf_dir=sf_dir)
    eng.sql("DROP TABLE IF EXISTS lf_t")
    eng.sql("CREATE TABLE lf_t AS SELECT 1 AS x")
    yield eng
    eng.sql("DROP TABLE IF EXISTS lf_t")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "sql",
    [
        "SHOW TABLES",
        "DESCRIBE orders",
        "SELECT query_id, state FROM system.runtime.queries",
        "INSERT INTO lf_t SELECT 2",
    ],
)
def test_engine_frames_have_no_rdd_leaf(engine, sql):
    plan = _plan(engine.sql(sql))
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan


def test_dml_result_collect_runs_no_job(engine, spark):
    df = engine.sql("INSERT INTO lf_t SELECT 3")
    sc = spark.sparkContext
    group = f"lf_probe_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "local_frame probe")
    try:
        assert df.collect() == [Row(rows=1)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
