import pytest

from rdflib_jsonld_spark.plans.pipeline import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session("local[4]", "rdflib_jsonld_spark-tests",
                      shuffle_partitions=8, driver_memory="8g")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
