"""The one session factory and the one pipeline composition
(plans/pipeline.py): ``construct_graph`` against the in-memory stages,
resume on its output, SQL views over its stages, and the session
profiles ``build_session`` derives."""

import glob
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from rdflib_jsonld_spark.operators.expand import (
    dedup_quads, expand_transcripts)
from rdflib_jsonld_spark.operators.linking import (
    canonical_mapping, canonicalize_quads)
from rdflib_jsonld_spark.plans.pipeline import (
    construct_graph, register_views)
from rdflib_jsonld_spark.sources.quads_io import read_graph
from rdflib_jsonld_spark.sources import transcripts as tr

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One 40-conv, 3-slice construction shared by the tests below; the
    re-run test rewrites graph/ and entity_counts/, so it comes last."""
    t = tr.transcripts_df(spark, n_convs=40, seed=42, partitions=3)
    out = str(tmp_path_factory.mktemp("kg"))
    stages, metrics = construct_graph(spark, t, out, n_slices=3,
                                      n_buckets=4)
    yield t, out, stages, metrics
    stages["quads"].unpersist()
    stages["mapping"].unpersist()


def test_construct_graph_matches_in_memory_stages(spark, built):
    t, out, _, metrics = built
    quads = dedup_quads(expand_transcripts(t)).persist()
    mapping = canonical_mapping(quads)
    canon = canonicalize_quads(quads, mapping)
    assert metrics["expansion"]["rows_in"] == t.count()
    # the AQE-for-cache switch is scoped to construct_graph's persist()
    assert spark.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") \
        == "false"
    assert metrics["n_quads_dedup"] == quads.count()
    assert metrics["n_linked_nodes"] == mapping.count()
    assert metrics["n_canonical_quads"] == canon.count()
    # same multiset of quads (equal counts, nothing left over); dedup
    # keeps an arbitrary (conv_id, turn_idx) per quad, so compare the
    # quad identity columns only
    key = ["g", "s", "p", "o_kind", "o_value", "o_datatype", "o_lang"]
    graph = read_graph(spark, os.path.join(out, "graph")).select(key)
    assert graph.exceptAll(canon.select(key)).count() == 0
    quads.unpersist()


def test_sql_views_over_graph(spark, built):
    """SQL API parity: spark.sql over registered pipeline views matches
    the DataFrame results."""
    stages = built[2]
    names = register_views(stages)
    assert "kg_quads" in names and "kg_entity_counts" in names
    sql_top = spark.sql("""
        SELECT p, count(*) AS n FROM kg_quads
        GROUP BY p ORDER BY n DESC, p LIMIT 5""").collect()
    df_top = (stages["quads"].groupBy("p")
              .agg(F.count(F.lit(1)).alias("n"))
              .orderBy(F.desc("n"), F.asc("p")).limit(5).collect())
    assert [tuple(r) for r in sql_top] == [tuple(r) for r in df_top]
    total = spark.sql(
        "SELECT sum(n_mentions) FROM kg_entity_counts").collect()[0][0]
    assert total > 0


def test_construct_graph_rerun_skips_every_slice(spark, built):
    t, out, _, metrics = built
    done = (glob.glob(os.path.join(out, "quads", "slice=*", "_SUCCESS"))
            + glob.glob(os.path.join(out, "_lineage", "slice_*.json")))
    assert len(done) == 6
    before = {p: os.stat(p).st_mtime_ns for p in done}
    stages, again = construct_graph(spark, t, out, n_slices=3, n_buckets=4)
    # markers are read back, not rewritten: equal timing fields included
    assert again == metrics
    assert {p: os.stat(p).st_mtime_ns for p in done} == before
    stages["quads"].unpersist()
    stages["mapping"].unpersist()


def test_build_session_profiles(spark):
    """The test session is build_session's: Arrow on, UTC, AQE at Spark's
    default (on). A fresh process checks the derived profiles: no master
    resolves to local[*], and shuffle_partitions=1 is the tiny-input
    profile (default parallelism 1, AQE off)."""
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") \
        == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    code = (
        "from rdflib_jsonld_spark.plans.pipeline import build_session\n"
        "s = build_session(shuffle_partitions=1)\n"
        "print('PROFILE', s.sparkContext.master,"
        " s.sparkContext.defaultParallelism,"
        " s.conf.get('spark.sql.adaptive.enabled'),"
        " s.conf.get('spark.sql.shuffle.partitions'),"
        " s.conf.get('spark.sql.session.timeZone'))\n"
        "s.stop()\n")
    res = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    line = [ln for ln in res.stdout.splitlines()
            if ln.startswith("PROFILE ")]
    assert line == ["PROFILE local[*] 1 false 1 UTC"]


def test_session_turns_call_site_capture_off(spark, monkeypatch):
    """build_session sets PySpark's static DataFrame-debugging conf to
    false, so no functions/Column/DataFrame call captures its Python
    call site (about ten Py4J round trips each): planning and collecting
    a 3-pattern star captures none."""
    import pyspark.errors.utils as eu
    from rdflib_jsonld_spark.operators.sparql import sparql
    v = "http://ex.org/v#"
    quads = spark.createDataFrame(
        [(None, "urn:a", False, v + p, "literal", o, None, None)
         for p, o in (("name", "A"), ("age", "3"), ("city", "Oslo"))],
        "g string, s string, s_is_bnode boolean, p string, o_kind string, "
        "o_value string, o_datatype string, o_lang string")
    calls = []
    capture = eu._capture_call_site
    monkeypatch.setattr(eu, "_capture_call_site",
                        lambda depth: calls.append(depth) or capture(depth))
    rows = sparql(quads, f"PREFIX v: <{v}> SELECT ?n ?a ?c WHERE "
                         "{ ?x v:name ?n . ?x v:age ?a . ?x v:city ?c }"
                  ).collect()
    assert [tuple(r) for r in rows] == [("A", "3", "Oslo")]
    assert len(calls) == 0
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
