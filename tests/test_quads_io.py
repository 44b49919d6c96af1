"""sources/quads_io.py: the graph table is read with its one fixed
schema, so a read starts no Spark job; it has one bucket file per core
by default, and its bucket count is recorded with it."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from rdflib_jsonld_spark.operators.expand import expand_transcripts
from rdflib_jsonld_spark.sources import transcripts as tr
from rdflib_jsonld_spark.sources.quads_io import (
    BUCKETS_FILE, lookup_subjects, read_graph, write_quads)


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


def test_lookup_reads_bucket_count_from_table(spark, graph, tmp_path):
    """lookup_subjects prunes with the N the table was written with (4
    here); a table without the record raises instead of guessing."""
    g = read_graph(spark, graph)
    subjects = sorted(r.s for r in g.select("s").distinct().collect())[:8]
    got = lookup_subjects(spark, graph, subjects)
    want = g.where(F.col("s").isin(subjects))
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))
    assert got.count() > 0
    with open(os.path.join(graph, BUCKETS_FILE)) as f:
        assert json.load(f) == {"n_buckets": 4}
    bare = str(tmp_path / "bare")
    write_quads(g, bare)
    os.remove(os.path.join(bare, BUCKETS_FILE))
    with pytest.raises(FileNotFoundError, match=BUCKETS_FILE):
        lookup_subjects(spark, bare, subjects)


def test_default_write_is_one_file_per_core(spark, tmp_path):
    """With no n_buckets the table has at most defaultParallelism
    buckets, one data file each, and a full scan lists no more files."""
    cores = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "graph")
    quads = expand_transcripts(tr.transcripts_df(spark, 6, partitions=2))
    n = write_quads(quads, path)
    dirs = glob.glob(os.path.join(path, "s_bucket=*"))
    assert 1 < len(dirs) <= cores
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    assert len(read_graph(spark, path).inputFiles()) <= cores
    assert n == cores
    with open(os.path.join(path, BUCKETS_FILE)) as f:
        assert json.load(f) == {"n_buckets": cores}
    assert read_graph(spark, path).count() == quads.count()
