"""plans/driver.py: driver rows become LocalRelation frames."""

from __future__ import annotations

import json
import pathlib
import re

import pytest
from pyspark.sql import Row, functions as F, types as T

from rdflib_jsonld_spark.operators.expand import CORE_SCHEMA
from rdflib_jsonld_spark.plans import driver
from rdflib_jsonld_spark.plans.driver import collect_bounded, local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "rdflib_jsonld_spark"


def _logical(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_local_frame_plans_as_local_relation(spark):
    df = local_frame(spark, [("a", 1), ("b", None)], "k string, n long")
    assert _logical(df) == "LocalRelation"
    assert [tuple(r) for r in df.collect()] == [("a", 1), ("b", None)]
    # the pickled-RDD path this replaces plans as a LogicalRDD
    assert _logical(spark.createDataFrame([("a",)], "k string")) \
        == "LogicalRDD"


def test_local_frame_keeps_schema_and_nullability(spark):
    row = (None, "e:s", False, "e:p", "literal", "v", None, "en")
    df = local_frame(spark, [row], CORE_SCHEMA)
    assert df.schema == CORE_SCHEMA
    # the JVM side carries the same nullability, not just the Python cache
    assert T.StructType.fromJson(json.loads(df._jdf.schema().json())) \
        == CORE_SCHEMA
    assert tuple(df.collect()[0]) == row
    ddl = local_frame(spark, [], "a string not null, b double")
    assert ddl.schema == T.StructType([
        T.StructField("a", T.StringType(), False),
        T.StructField("b", T.DoubleType(), True)])


def test_local_frame_empty_input(spark):
    for schema in (CORE_SCHEMA, "doc long, score double"):
        df = local_frame(spark, [], schema)
        assert df.collect() == []
        assert _logical(df) == "LocalRelation"
    assert local_frame(spark, [], CORE_SCHEMA).schema == CORE_SCHEMA
    assert local_frame(spark, [], ["v"]).schema["v"].dataType \
        == T.StringType()


def test_local_frame_rejects_null_in_non_nullable_field(spark):
    row = (None, None, False, "e:p", "iri", "e:o", None, None)
    with pytest.raises(ValueError, match="field s"):
        local_frame(spark, [row], CORE_SCHEMA)
    with pytest.raises(ValueError, match="fields"):
        local_frame(spark, [("a", "b")], "k string")


def test_local_frame_column_names_infer_types(spark):
    df = local_frame(spark, [Row(s="x", n=1), ("y", None)], ["s", "n"])
    assert df.schema == T.StructType([
        T.StructField("s", T.StringType(), True),
        T.StructField("n", T.LongType(), True)])
    # a column with no value (all UNDEF) is a string column
    assert local_frame(spark, [(None,)], ["v"]).schema["v"].dataType \
        == T.StringType()


def test_create_dataframe_only_in_driver_module():
    """Every driver-built frame goes through ``local_frame``: a bare
    ``createDataFrame(list)`` elsewhere is a pickled Python RDD with no
    statistics, which Spark never broadcasts."""
    hits = sorted(
        str(p.relative_to(PACKAGE)) for p in PACKAGE.rglob("*.py")
        if re.search(r"createDataFrame\(", p.read_text()))
    assert hits == ["plans/driver.py"]


def _jobs(spark, fn, group="collect-bounded"):
    """(result, number of Spark jobs ``fn`` started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def four_files(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(0, 400, 1, 4).withColumn("k", (F.col("id") % 7)) \
        .write.parquet(path)
    return spark.read.schema("id long, k long").parquet(path)


def test_collect_bounded_fits_in_one_job(spark, four_files):
    """The rows of a four-task scan come back in one job. A plain
    ``limit(n).collect()`` scans one partition first and then the rest,
    two jobs for the same rows."""
    df = four_files.where(F.col("k") == 3)
    rows, jobs = _jobs(spark, lambda: collect_bounded(df, 100))
    assert jobs == 1
    assert sorted(r.id for r in rows) == list(range(3, 400, 7))
    _, plain = _jobs(spark, lambda: df.limit(101).collect(), "plain-limit")
    assert plain >= 2
    key = "spark.sql.limit.initialNumPartitions"
    assert spark.conf.get(key) == "1"        # the setting is restored


def test_collect_bounded_over_the_bound(spark, four_files, monkeypatch):
    df = four_files.where(F.col("k") == 3)   # 57 rows
    assert collect_bounded(df, 56) is None
    assert len(collect_bounded(df, 57)) == 57
    assert collect_bounded(df.where(F.lit(False)), 0) == []
    monkeypatch.setattr(driver, "DRIVER_ROWS", 10)
    assert collect_bounded(df) is None
    assert len(collect_bounded(df.limit(10))) == 10


def test_collect_bounded_caps_rows_sent_over_the_bound(spark, monkeypatch):
    """Over the bound, the first job scans only the partitions whose
    prefixes fit in ``FIRST_JOB_ROWS``; it does not make every one of
    64 partitions send ``bound + 1`` rows to the driver."""
    df = spark.range(0, 640, 1, 64).where(F.col("id") % 10 < 5)
    # rows that fit come back in one job, however many partitions
    rows, jobs = _jobs(spark, lambda: collect_bounded(
        df.where(F.col("id") < 40), 20), "fits-64")
    assert (jobs, len(rows)) == (1, 20)
    monkeypatch.setattr(driver, "FIRST_JOB_ROWS", 24)
    out, jobs = _jobs(spark, lambda: collect_bounded(df, 5), "over-bound")
    assert out is None
    tracker = spark.sparkContext.statusTracker()
    tasks = sum(tracker.getStageInfo(s).numTasks
                for j in tracker.getJobIdsForGroup("over-bound")
                for s in tracker.getJobInfo(j).stageIds)
    assert (jobs, tasks) == (1, 24 // 6)
