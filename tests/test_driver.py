"""plans/driver.py: driver rows become LocalRelation frames."""

from __future__ import annotations

import json
import pathlib
import re

import pytest
from pyspark.sql import Row, types as T

from rdflib_jsonld_spark.operators.expand import CORE_SCHEMA
from rdflib_jsonld_spark.plans.driver import local_frame

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
