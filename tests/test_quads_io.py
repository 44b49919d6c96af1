"""sources/quads_io.py: the graph table is read with its one fixed
schema, so a read starts no Spark job."""

from __future__ import annotations

import pytest

from rdflib_jsonld_spark.operators.expand import expand_transcripts
from rdflib_jsonld_spark.sources import transcripts as tr
from rdflib_jsonld_spark.sources.quads_io import read_graph, write_quads


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs that ``fn()`` starts, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def graph(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("quads_io") / "graph")
    quads = expand_transcripts(tr.transcripts_df(spark, 4, partitions=2))
    write_quads(quads, path, n_buckets=4)
    return path


def test_read_graph_starts_no_job(spark, graph):
    assert _jobs(spark, "read_graph", lambda: read_graph(spark, graph)) == 0
    # schema inference, which read_graph skips, is a job per call
    assert _jobs(spark, "infer", lambda: spark.read.parquet(graph)) >= 1


def test_read_graph_schema_matches_inference(spark, graph):
    from rdflib_jsonld_spark.sources.quads_io import GRAPH_SCHEMA
    inferred = spark.read.parquet(graph)
    got = read_graph(spark, graph)
    assert got.schema == GRAPH_SCHEMA
    assert got.dtypes == inferred.dtypes
    assert got.schema == inferred.schema
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, inferred.collect()))
