"""Graph set-algebra (G4/F5) and IRI column functions (H1/H6)."""

from pyspark.sql import functions as F

from rdflib_jsonld_spark.functions import (
    bnode_label, iri_local_name, iri_namespace, is_bnode)
from rdflib_jsonld_spark.operators.diff import graph_diff, precision_recall
from rdflib_jsonld_spark.operators.expand import expand_transcripts
from rdflib_jsonld_spark.sources import transcripts as tr


def test_iri_functions(spark):
    df = spark.createDataFrame(
        [("http://example.org/ns#thing",),
         ("http://example.org/path/leaf",),
         ("_:b12",),
         ("urn:uuid:abc",)], ["iri"])
    rows = df.select(
        iri_namespace(F.col("iri")).alias("ns"),
        iri_local_name(F.col("iri")).alias("local"),
        is_bnode("iri").alias("bn"),
        bnode_label("iri").alias("label"),
    ).collect()
    assert (rows[0].ns, rows[0].local) == ("http://example.org/ns#", "thing")
    assert (rows[1].ns, rows[1].local) == ("http://example.org/path/", "leaf")
    assert rows[2].bn and rows[2].label == "b12"
    assert not rows[0].bn
    assert rows[3].ns == "urn:uuid:"


def test_graph_diff_and_pr(spark):
    quads = expand_transcripts(
        tr.transcripts_df(spark, n_convs=8, partitions=2)).cache()
    # oracle = same graph minus 10 quads plus nothing → recall 1, P < 1
    some = quads.limit(10)
    oracle = quads.exceptAll(some)
    d = graph_diff(quads, oracle)
    n_all = quads.select("g", "s", "p", "o_kind", "o_value", "o_datatype",
                         "o_lang").distinct().count()
    n_oracle = oracle.select("g", "s", "p", "o_kind", "o_value",
                             "o_datatype", "o_lang").distinct().count()
    assert d["both"].count() == n_oracle
    assert d["only_ours"].count() == n_all - n_oracle
    assert d["only_oracle"].count() == 0
    pr = precision_recall(quads, oracle)
    assert pr["recall"] == 1.0 and pr["precision"] < 1.0
    # identity → perfect
    pr2 = precision_recall(quads, quads)
    assert pr2["precision"] == 1.0 and pr2["recall"] == 1.0
    quads.unpersist()


def test_write_quads_bucket_layout_and_pruned_lookup(spark, tmp_path):
    from rdflib_jsonld_spark.sources.quads_io import (
        BUCKETS_FILE, lookup_subjects, write_quads)
    import glob
    import json
    quads = expand_transcripts(tr.transcripts_df(spark, 6, partitions=2))
    out = str(tmp_path / "graph")
    write_quads(quads, out, n_buckets=8)
    dirs = glob.glob(f"{out}/s_bucket=*")
    assert 1 < len(dirs) <= 8
    with open(f"{out}/{BUCKETS_FILE}") as f:
        assert json.load(f)["n_buckets"] == 8
    back = spark.read.parquet(out)
    assert back.count() == quads.count()
    # same subject always lands in one bucket
    multi = (back.groupBy("s")
             .agg(F.countDistinct("s_bucket").alias("nb"))
             .where(F.col("nb") > 1).count())
    assert multi == 0
    # point lookup: results match a naive filter, and the plan prunes on
    # the partition column
    subj = back.select("s").where(~F.col("s").startswith("_:")) \
        .distinct().limit(2)
    subjects = [r.s for r in subj.collect()]
    got = lookup_subjects(spark, out, subjects)
    want = back.where(F.col("s").isin(subjects))
    assert {tuple(r) for r in got.collect()} \
        == {tuple(r) for r in want.collect()}
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = got._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters: [" in plan and "s_bucket" in plan
