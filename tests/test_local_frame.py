"""``session.local_frame``: small driver-side frames as Arrow-built
``LocalRelation``s. ``spark.createDataFrame(list, schema)`` is used here
only as the oracle: the helper must give the same rows and the same schema,
without the Python-RDD scan that starts a Python worker on every action."""

import datetime
import decimal
import time

import pytest
from pyspark.errors import PySparkTypeError
from pyspark.sql import functions as F

from graphique_spark.session import local_frame

SCALARS = (
    "l long, i int, d double, b boolean, s string, dec decimal(12,3), "
    "dt date, bin binary"
)
NESTED = "arr array<long>, st struct<x:int,y:string>, m map<string,double>"


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def _same(spark, rows, schema):
    new = local_frame(spark, rows, schema)
    old = spark.createDataFrame(rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    assert _analyzed(new) == "LocalRelation"
    return new


def test_scalar_types_match_create_dataframe(spark):
    rows = [
        (1, 2, 1.5, True, "a", decimal.Decimal("12.345"), datetime.date(2020, 2, 29), b"\x00\xff"),
        (-(2**63), -(2**31), float("-inf"), False, "", decimal.Decimal("-0.001"), datetime.date(1969, 12, 31), b""),
        (None,) * 8,
    ]
    _same(spark, rows, SCALARS)


def test_nested_types_match_create_dataframe(spark):
    rows = [
        ([1, None, 3], (7, "q"), {"k": 0.5, "z": None}),
        ([], (None, None), {}),
        (None, None, None),
    ]
    _same(spark, rows, NESTED)


def test_struct_type_schema_keeps_nullability(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("k", LongType(), False), StructField("v", StringType(), True)]
    )
    out = _same(spark, [(1, "x"), (2, None)], schema)
    assert out.schema["k"].nullable is False


def test_zero_rows(spark):
    for schema in (SCALARS, NESTED, "t timestamp"):
        out = _same(spark, [], schema)
        assert out.count() == 0


def test_naive_timestamps_read_as_process_local_time(spark, monkeypatch):
    # createDataFrame reads a naive datetime as process-local time; the
    # Arrow path must agree, not read it as UTC
    rows = [
        (datetime.datetime(2021, 3, 14, 1, 59, 26, 535897),),
        (datetime.datetime(2021, 11, 7, 12, 0),),
        (datetime.datetime(2021, 3, 14, 1, 0, tzinfo=datetime.timezone.utc),),
        (None,),
    ]
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        new = _same(spark, rows, "t timestamp")
        old = spark.createDataFrame(rows, "t timestamp")
        micros = F.unix_micros("t").alias("us")
        got = [r["us"] for r in new.select(micros).collect()]
        assert got == [r["us"] for r in old.select(micros).collect()]
        # 01:59:26 EST is 06:59:26 UTC
        assert got[0] == 1615705166535897
    finally:
        monkeypatch.undo()
        time.tzset()


def test_collect_runs_no_spark_job(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    rows = [(i, str(i)) for i in range(600)]
    new = local_frame(spark, rows, "k long, v string")
    old = spark.createDataFrame(rows, "k long, v string")
    group = "local-frame-no-job"
    sc.setJobGroup(group, "local_frame collect")
    try:
        assert len(new.collect()) == 600
        assert tracker.getJobIdsForGroup(group) == []
        old.collect()  # the oracle's Python-RDD scan does run a job
        assert tracker.getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize(
    "ddl", ["i interval year to month", "i interval"], ids=["year_month", "calendar"]
)
def test_types_arrow_cannot_carry_raise(spark, ddl):
    with pytest.raises(PySparkTypeError, match="UNSUPPORTED_DATA_TYPE_FOR_ARROW"):
        local_frame(spark, [(None,)], ddl)


def test_metadata_groups_and_take_index_are_local_relations(spark, tables, tmp_path):
    # Dataset._metadata_groups and Dataset.take's (position, index) frame
    # are documented as LocalRelations: pin it in the optimized plans
    from graphique_spark import sources

    dest = str(tmp_path / "nation")
    sources.write_partitioned(tables["nation"].df, dest, ["n_regionkey"])
    groups = sources.read_parquet(spark, dest).group(by=["n_regionkey"], counts="n")
    plan = groups.df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lstrip().startswith("LocalRelation"), plan
    assert "LogicalRDD" not in plan

    taken = tables["nation"].take([3, 1])
    plan = taken.df._jdf.queryExecution().optimizedPlan()
    assert "LocalRelation" in plan.toString(), plan.toString()
    # the one LogicalRDD left is with_row_index's materialize cut, whose
    # lineage is its checkpoint, never a pickled Python RDD
    leaves = plan.collectLeaves()
    rdds = [
        leaf.rdd().toDebugString()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName() == "LogicalRDD"
    ]
    assert len(rdds) == 1 and "LocalCheckpointRDD" in rdds[0], rdds
    assert "PythonRDD" not in rdds[0], rdds
