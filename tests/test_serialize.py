"""Serializer (from-rdf) round-trip: expand → serialize → re-expand must be
isomorphic per document (SURVEY.md §7 M5 exit criterion), plus pure-core
compaction goldens from the checkout doctests."""

import json

from rdflib_jsonld_spark.jsonld import from_rdf, to_rdf
from rdflib_jsonld_spark.jsonld.compare import isomorphic
from rdflib_jsonld_spark.operators.expand import expand_transcripts
from rdflib_jsonld_spark.operators.serialize import (
    row_to_quad, serialize_documents)
from rdflib_jsonld_spark.sources import transcripts as tr

DC = "http://purl.org/dc/terms/"
EX = "http://example.org/"


def test_fromrdf_checkout_doctest_compacted():
    """[checkout] README.md:49-77 shape: @vocab+@language context folds a
    tagged literal back to a bare string."""
    quads = to_rdf({"@context": {"@vocab": DC, "@language": "en"},
                    "@id": f"{EX}about", "title": "Someone's Homepage"})
    tree = from_rdf(quads, context_data={"@vocab": DC, "@language": "en"})
    assert tree["@id"] == f"{EX}about"
    assert tree["title"] == "Someone's Homepage"
    rt = to_rdf(tree)
    assert isomorphic(quads, rt)


def test_fromrdf_expanded_default():
    quads = to_rdf({"@context": {"ex": EX}, "@id": f"{EX}s",
                    "ex:p": [1, "x"], "@type": "ex:T"})
    tree = from_rdf(quads)
    assert isinstance(tree, list) and len(tree) == 1
    node = tree[0]
    assert node["@id"] == f"{EX}s"
    assert node["@type"] == [f"{EX}T"]
    assert isomorphic(to_rdf(tree), quads)


def test_fromrdf_list_reassembly():
    doc = {"@context": {"ex": EX}, "@id": f"{EX}s",
           "ex:items": {"@list": ["a", "b", "c"]}}
    quads = to_rdf(doc)
    tree = from_rdf(quads)
    (node,) = tree
    val = node[f"{EX}items"]
    assert val == [{"@list": [{"@value": "a"}, {"@value": "b"},
                              {"@value": "c"}]}]
    assert isomorphic(to_rdf(tree), quads)


def test_fromrdf_named_graph_roundtrip():
    doc = {"@context": {"ex": EX}, "@id": f"{EX}g1", "ex:label": "G",
           "@graph": [{"@id": "ex:s", "ex:p": "v"}]}
    quads = to_rdf(doc)
    tree = from_rdf(quads)
    assert isomorphic(to_rdf(tree), quads)


def test_fromrdf_native_types():
    quads = to_rdf({"@context": {"ex": EX}, "@id": f"{EX}s",
                    "ex:i": 42, "ex:b": True})
    tree = from_rdf(quads, use_native_types=True)
    (node,) = tree
    vals = {k: v for k, v in node.items() if k.startswith(EX)}
    assert {"@value": 42} in vals[f"{EX}i"]
    assert {"@value": True} in vals[f"{EX}b"]
    assert isomorphic(to_rdf(tree), quads)


def test_fromrdf_language_map_reconstruction():
    ctx = {"label": {"@id": f"{EX}label", "@container": "@language"}}
    doc = {"@context": ctx, "@id": f"{EX}s",
           "label": {"en": "hello", "de": ["hallo", "tag"]}}
    quads = to_rdf(doc)
    tree = from_rdf(quads, context_data=ctx)
    assert tree["label"] == {"en": "hello", "de": ["hallo", "tag"]}
    assert isomorphic(to_rdf(tree), quads)


def test_fromrdf_json_literal_roundtrip():
    doc = {"@context": {"meta": {"@id": f"{EX}meta", "@type": "@json"}},
           "@id": f"{EX}s", "meta": {"b": [1, True], "a": "x"}}
    quads = to_rdf(doc)
    tree = from_rdf(quads)
    (node,) = tree
    val = node[f"{EX}meta"][0]
    assert val["@type"] == "@json"
    assert val["@value"] == {"a": "x", "b": [1, True]}
    assert isomorphic(to_rdf(tree), quads)


def test_auto_compact_derives_prefixes():
    quads = to_rdf({"@context": {"dc": DC}, "@id": f"{EX}about",
                    "dc:title": "T"})
    tree = from_rdf(quads, auto_compact=True)
    assert tree["@context"].get("dcterms") == DC
    assert tree["dcterms:title"] == "T"


def test_spark_serialize_roundtrip(spark):
    """Distributed round-trip: expand N convs, serialize per document,
    re-expand each emitted JSON-LD doc, compare quad multisets. One extra
    turn carries JSON-LD-star annotations (quoted-triple subjects, one
    nested): its document must be isomorphic to the source block's."""
    import datetime
    star_doc = {"@context": {"ex": EX}, "@id": "ex:a",
                "ex:knows": {"@id": "ex:b", "@annotation": {
                    "ex:w": 0.5, "ex:src": {"@id": "_:d", "@annotation": {
                        "ex:page": 3}}}}}
    star_turn = spark.createDataFrame(
        [("star", 0, "assistant", f"```ld\n{json.dumps(star_doc)}\n```",
          None, datetime.datetime(2024, 1, 1))], tr.TRANSCRIPT_SCHEMA)
    df = tr.transcripts_df(spark, n_convs=20, seed=42, partitions=4) \
        .unionByName(star_turn)
    quads = expand_transcripts(df).cache()
    docs = serialize_documents(quads).collect()
    assert len(docs) > 0
    originals = {("star", 0): to_rdf(star_doc)}
    for r in quads.collect():
        if r.conv_id != "star":
            originals.setdefault((r.conv_id, r.turn_idx), []).append(
                row_to_quad(r))
    assert set(originals) == {(d.conv_id, d.turn_idx) for d in docs}
    for d in docs:
        tree = json.loads(d.jsonld)
        rt = to_rdf(tree)
        assert isomorphic(rt, originals[(d.conv_id, d.turn_idx)]), \
            (d.conv_id, d.turn_idx)
    quads.unpersist()


def test_from_rdf_startnode_selects_single_subject():
    """[v0.5.0] serializer.py from_rdf(startnode=...) parity."""
    from rdflib_jsonld_spark.jsonld import from_rdf, to_rdf
    ctx = {"ex": "http://e/", "p": "ex:p"}
    doc = {"@context": ctx,
           "@graph": [{"@id": "ex:a", "p": "x"},
                      {"@id": "ex:b", "p": "y"}]}
    quads = to_rdf(doc)
    node = from_rdf(quads, context_data=ctx, startnode="ex:b")
    assert node["@id"] == "ex:b" and node["p"] == "y"
    expanded = from_rdf(quads, startnode="http://e/a")
    assert expanded["@id"] == "http://e/a"
    import pytest as _pytest
    with _pytest.raises(KeyError):
        from_rdf(quads, startnode="http://e/nope")


def test_from_rdf_index_returns_node_map():
    """[v0.5.0] serializer.py from_rdf(index=True) parity: graph-keyed
    subject map with '@default' for the default graph."""
    from rdflib_jsonld_spark.jsonld import from_rdf, to_rdf
    doc = [{"@id": "http://e/a", "http://e/p": [{"@value": "x"}]},
           {"@id": "http://e/g",
            "@graph": [{"@id": "http://e/b",
                        "http://e/p": [{"@value": "y"}]}]}]
    quads = to_rdf(doc)
    imap = from_rdf(quads, index=True)
    assert set(imap) == {"@default", "http://e/g"}
    assert "http://e/a" in imap["@default"]
    assert imap["http://e/g"]["http://e/b"]["http://e/p"]


def test_spark_serialize_indent_kwarg(spark):
    """indent=4 pretty-prints like the reference serializer doctest
    ([checkout] docs/jsonld-serializer.rst:27) without changing the
    parsed tree."""
    df = tr.transcripts_df(spark, n_convs=2, seed=7, partitions=1)
    quads = expand_transcripts(df).cache()
    compact = {(d.conv_id, d.turn_idx): d.jsonld
               for d in serialize_documents(quads).collect()}
    pretty = {(d.conv_id, d.turn_idx): d.jsonld
              for d in serialize_documents(quads, indent=4).collect()}
    quads.unpersist()
    assert set(compact) == set(pretty)
    for k, text in pretty.items():
        assert "\n    " in text            # actually indented
        assert json.loads(text) == json.loads(compact[k])
