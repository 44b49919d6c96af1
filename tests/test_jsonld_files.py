"""File-based JSON-LD source tests (sources/jsonld_files.py — the Spark
face of the rdflib plugin's file/source parse, SURVEY.md §2.A1/A5)."""

import json

from pyspark.sql import functions as F

from rdflib_jsonld_spark.jsonld import to_rdf
from rdflib_jsonld_spark.operators.expand import QUAD_KEY_COLS
from rdflib_jsonld_spark.sources.jsonld_files import (
    read_jsonld_files, read_jsonld_lines)
from rdflib_jsonld_spark.sources.registry import CONTEXT_V1_IRI

DOCS = [
    {"@context": CONTEXT_V1_IRI,
     "id": "https://kg.example.org/m/1", "@type": "Mention",
     "surface": "acme corp", "about": "https://kg.example.org/e/1/a0",
     "confidence": 0.9},
    {"@context": {"ex": "http://e/"},
     "@id": "ex:a", "ex:p": {"@value": "x", "@language": "en"},
     "ex:children": {"@list": [{"@id": "ex:c1"}, {"@id": "ex:c2"}]}},
    {"@context": {"ex": "http://e/"},
     "@id": "ex:g", "@graph": [{"@id": "ex:b", "ex:q": 5}]},
    # JSON-LD-star: the annotation's subject is a quoted triple
    {"@context": {"ex": "http://e/"}, "@id": "ex:s",
     "ex:knows": {"@id": "ex:o", "@annotation": {"ex:w": 2}}},
]
QUOTED = "<< <http://e/s> <http://e/knows> <http://e/o> >>"


def _write_jsonl(tmp_path, docs):
    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join(json.dumps(d) for d in docs) + "\n\n")
    return str(p)


def test_jsonl_source_matches_pure_core(spark, tmp_path):
    path = _write_jsonl(tmp_path, DOCS)
    got = read_jsonld_lines(spark, path)
    expected_n = sum(len(set(to_rdf(d, registry={
        CONTEXT_V1_IRI: __import__(
            "rdflib_jsonld_spark.sources.registry",
            fromlist=["CONTEXT_V1"]).CONTEXT_V1}))) for d in DOCS)
    assert got.count() == expected_n
    # graph-level spot check: the langString and the list chain made it
    rows = got.collect()
    assert any(r["o_lang"] == "en" for r in rows)
    assert sum(1 for r in rows
               if r["p"].endswith("22-rdf-syntax-ns#first")) == 2
    assert [(r["s"], r["s_is_bnode"], r["o_value"]) for r in rows
            if r["p"] == "http://e/w"] == [(QUOTED, False, "2")]


def test_jsonl_source_skips_malformed_and_blank(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"@id": "http://e/a", "http://e/p": "x"}\n'
                 "not json at all\n\n"
                 '{"@id": "http://e/b", "http://e/p": "y"}\n')
    got = read_jsonld_lines(spark, str(p))
    assert got.count() == 2


def test_wholefile_source(spark, tmp_path):
    d = tmp_path / "files"
    d.mkdir()
    for i, doc in enumerate(DOCS):
        (d / f"doc{i}.jsonld").write_text(json.dumps(doc, indent=2))
    got = read_jsonld_files(spark, str(d))
    lines = read_jsonld_lines(spark, _write_jsonl(tmp_path, DOCS))
    key = lambda t: tuple("" if v is None else str(v) for v in t)  # noqa: E731
    a = sorted(map(tuple, got.select(*QUAD_KEY_COLS).collect()), key=key)
    b = sorted(map(tuple, lines.select(*QUAD_KEY_COLS).collect()), key=key)
    # identical quad sets up to bnode labels: compare non-bnode rows
    # exactly and bnode-row counts
    na = [r for r in a if not any(isinstance(v, str) and v.startswith("_:")
                                  for v in r)]
    nb = [r for r in b if not any(isinstance(v, str) and v.startswith("_:")
                                  for v in r)]
    assert na == nb and len(a) == len(b)
    assert sum(1 for r in a if r[1] == QUOTED) == 1


def test_lineage_carries_source(spark, tmp_path):
    path = _write_jsonl(tmp_path, DOCS)
    got = read_jsonld_lines(spark, path)
    srcs = [r["conv_id"] for r in got.select("conv_id").distinct().collect()]
    assert all("docs.jsonl" in s for s in srcs)
    assert len(srcs) == len(DOCS)
