"""RDF-star: quoted triples end-to-end ([spec] RDF-star W3C CG report /
RDF 1.2 + SPARQL 1.2 WDs; no reference counterpart — predates RDF-star).

Pure core: N-Quads-star and Turtle-star parse/serialize (incl. the
{| ... |} annotation sugar and nesting). Spark: the star.py table
spelling through the N-Quads source/sink, JVM decomposition, quoted
patterns on the match_bgp kwargs surface, and '<< s p o >>' patterns in
the SPARQL text front-end (subject and object position, inner constants
incl. tagged literals, inner variables joining plain patterns).
"""

import pytest

from rdflib_jsonld_spark.jsonld.nquads import QT, parse_line, quad_to_nq
from rdflib_jsonld_spark.jsonld.tordf import IRI, LIT
from rdflib_jsonld_spark.jsonld.turtle import parse as parse_ttl
from rdflib_jsonld_spark.jsonld.turtle import serialize as ser_ttl

E = "http://e/"
XS = "http://www.w3.org/2001/XMLSchema#string"


def test_nquads_star_parse_and_roundtrip():
    ln = ('<< <http://e/a> <http://e/p> "v" >> <http://e/c> '
          '"0.9"^^<http://www.w3.org/2001/XMLSchema#double> .')
    q = parse_line(ln)
    assert q[1] == (QT, ((IRI, E + "a"), (IRI, E + "p"),
                         (LIT, "v", XS, None)))
    assert quad_to_nq(q) == ln


def test_nquads_star_nested_object():
    ln = ('<http://e/x> <http://e/q> << << <http://e/a> <http://e/p> "v" '
          '>> <http://e/r> _:b >> .')
    q = parse_line(ln)
    assert q[3][0] == QT and q[3][1][0][0] == QT
    # semantic round trip (labels re-encode with the sink sentinel, so
    # byte equality is only guaranteed for our own output)
    assert parse_line(quad_to_nq(q)) == q


def test_turtle_star_annotation_desugars():
    quads = parse_ttl("""
        @prefix ex: <http://e/> .
        ex:s ex:p ex:o {| ex:src ex:doc1 ; ex:conf 5 |} .
    """)
    asserted = (None, (IRI, E + "s"), (IRI, E + "p"), (IRI, E + "o"))
    assert asserted in quads
    qt = (QT, ((IRI, E + "s"), (IRI, E + "p"), (IRI, E + "o")))
    preds = {q[2][1] for q in quads if q[1] == qt}
    assert preds == {E + "src", E + "conf"}


def test_turtle_star_serialize_roundtrip():
    quads = parse_ttl("""
        @prefix ex: <http://e/> .
        << ex:a ex:p "v" >> ex:certainty 0.9 .
        ex:x ex:q << ex:a a ex:T >> .
    """)
    out = ser_ttl(quads, {"ex": E})
    assert sorted(map(repr, parse_ttl(out))) == sorted(map(repr, quads))


STAR_NQ = """\
<< <http://e/a> <http://e/p> "v" >> <http://e/certainty> "0.9"^^<http://www.w3.org/2001/XMLSchema#double> .
<< <http://e/b> <http://e/p> "w"@en >> <http://e/certainty> "0.4"^^<http://www.w3.org/2001/XMLSchema#double> .
<http://e/a> <http://e/p> "v" .
<http://e/x> <http://e/q> << <http://e/a> <http://e/p> "v" >> .
"""


@pytest.fixture(scope="module")
def star_quads(spark, tmp_path_factory):
    from rdflib_jsonld_spark.sources.nquads_io import read_nquads
    p = tmp_path_factory.mktemp("star") / "s.nq"
    p.write_text(STAR_NQ)
    df = read_nquads(spark, str(p)).cache()
    df.count()
    yield df
    df.unpersist()


def test_spark_star_io_roundtrip(star_quads, spark, tmp_path):
    from rdflib_jsonld_spark.sources.nquads_io import (read_nquads,
                                                       write_nquads)
    out = tmp_path / "rt"
    write_nquads(star_quads, str(out))
    back = sorted(map(tuple, read_nquads(spark, str(out)).collect()))
    assert back == sorted(map(tuple, star_quads.collect()))
    kinds = {r.o_kind for r in star_quads.collect()}
    assert "triple" in kinds


def test_match_quoted_kwargs(star_quads):
    from rdflib_jsonld_spark.operators.bgp import match_bgp
    rows = match_bgp(star_quads, [
        (("qt", "?s", E + "p", "?v"), E + "certainty", "?c")])
    got = {tuple(r) for r in rows.select("s", "v", "c").collect()}
    assert got == {(E + "a", "v", "0.9"), (E + "b", "w", "0.4")}


def test_sparql_star_subject_pattern(star_quads):
    from rdflib_jsonld_spark.operators.sparql import sparql
    out = sparql(star_quads, f"""
        PREFIX e: <{E}>
        SELECT ?s ?v ?c WHERE {{ << ?s e:p ?v >> e:certainty ?c }}
        ORDER BY ?s""")
    assert [tuple(r) for r in out.collect()] == [
        (E + "a", "v", "0.9"), (E + "b", "w", "0.4")]


def test_sparql_star_constant_inner_and_tagged(star_quads):
    from rdflib_jsonld_spark.operators.sparql import sparql
    out = sparql(star_quads, f"""
        PREFIX e: <{E}>
        SELECT ?c WHERE {{ << e:a e:p "v" >> e:certainty ?c }}""")
    assert [r.c for r in out.collect()] == ["0.9"]
    out = sparql(star_quads, f"""
        PREFIX e: <{E}>
        SELECT ?s WHERE {{ << ?s e:p "w"@en >> e:certainty ?c }}""")
    assert [r.s for r in out.collect()] == [E + "b"]
    # bare string constants are exact terms ([spec] §5.2, sweep 37) —
    # inside quoted patterns too: plain "w" does NOT match "w"@en
    out = sparql(star_quads, f"""
        PREFIX e: <{E}>
        SELECT ?s WHERE {{ << ?s e:p "w" >> e:certainty ?c }}""")
    assert [r.s for r in out.collect()] == []


def test_sparql_star_object_position_and_join(star_quads):
    from rdflib_jsonld_spark.operators.sparql import sparql
    out = sparql(star_quads, f"""
        PREFIX e: <{E}>
        SELECT ?x ?s WHERE {{ ?x e:q << ?s e:p "v" >> }}""")
    assert [tuple(r) for r in out.collect()] == [(E + "x", E + "a")]
    # inner var joins an asserted-triple pattern: only :a is asserted
    out = sparql(star_quads, f"""
        PREFIX e: <{E}>
        SELECT ?s ?c WHERE {{ << ?s e:p ?v >> e:certainty ?c .
                              ?s e:p ?v }}""")
    assert [tuple(r) for r in out.collect()] == [(E + "a", "0.9")]


# --- SPARQL 1.2 annotation blocks (r05) -------------------------------------

def _star_doc_quads(spark):
    from rdflib_jsonld_spark.jsonld import to_rdf
    from rdflib_jsonld_spark.operators.expand import quad_to_cells
    EX = "http://ex/"
    doc = {"@context": {"ex": EX}, "@id": "ex:a",
           "ex:knows": [
               {"@id": "ex:b", "@annotation": {
                   "ex:certainty": 0.9,
                   "ex:src": {"@id": "ex:doc",
                              "@annotation": {"ex:page": 3}}}},
               {"@id": "ex:c", "@annotation": {"ex:certainty": 0.4}}]}
    rows = [quad_to_cells(q) for q in to_rdf(doc)]
    return spark.createDataFrame(
        rows, "g string, s string, s_is_bnode boolean, p string, "
              "o_kind string, o_value string, o_datatype string, "
              "o_lang string")


def test_annotation_block_select(spark):
    from rdflib_jsonld_spark.operators.sparql import sparql
    q = _star_doc_quads(spark)
    out = sparql(q, "PREFIX ex: <http://ex/> SELECT ?o ?c WHERE "
                    "{ ?s ex:knows ?o {| ex:certainty ?c |} } ORDER BY ?o")
    assert [(r.o, r.c) for r in out.collect()] == [
        ("http://ex/b", "9.0E-1"), ("http://ex/c", "4.0E-1")]
    # FILTER over the annotation var
    out2 = sparql(q, "PREFIX ex: <http://ex/> SELECT ?o WHERE "
                     "{ ?s ex:knows ?o {| ex:certainty ?c |} "
                     "FILTER(?c > 0.5) }")
    assert [r.o for r in out2.collect()] == ["http://ex/b"]


def test_annotation_block_nested(spark):
    from rdflib_jsonld_spark.operators.sparql import sparql
    q = _star_doc_quads(spark)
    out = sparql(q, "PREFIX ex: <http://ex/> SELECT ?o ?src ?pg WHERE "
                    "{ ?s ex:knows ?o {| ex:src ?src {| ex:page ?pg |} |} }")
    assert [(r.o, r.src, r.pg) for r in out.collect()] == [
        ("http://ex/b", "http://ex/doc", "3")]


def test_annotation_block_semicolon_and_path_rejection(spark):
    from rdflib_jsonld_spark.operators.sparql import SparqlError, sparql
    q = _star_doc_quads(spark)
    out = sparql(q, "PREFIX ex: <http://ex/> SELECT ?o ?c ?s2 WHERE "
                    "{ ?s ex:knows ?o {| ex:certainty ?c ; ex:src ?s2 |} }")
    assert [(r.o, r.s2) for r in out.collect()] == [
        ("http://ex/b", "http://ex/doc")]
    import pytest as _pytest
    with _pytest.raises(SparqlError, match="annotation block"):
        sparql(q, "PREFIX ex: <http://ex/> SELECT ?o WHERE "
                  "{ ?s ex:knows/ex:knows ?o {| ex:certainty ?c |} }")


def test_annotation_block_construct_and_update(spark):
    from rdflib_jsonld_spark.operators.sparql import sparql
    from rdflib_jsonld_spark.operators.update import update
    rows = [(None, "http://ex/a", False, "http://ex/knows", "iri",
             "http://ex/b", None, None)]
    q = spark.createDataFrame(
        rows, "g string, s string, s_is_bnode boolean, p string, "
              "o_kind string, o_value string, o_datatype string, "
              "o_lang string")
    got = sparql(q, "PREFIX ex: <http://ex/> CONSTRUCT "
                    "{ ?s ex:knows ?o {| ex:conf 1 |} } "
                    "WHERE { ?s ex:knows ?o }").collect()
    spellings = {r.s for r in got}
    assert "<< <http://ex/a> <http://ex/knows> <http://ex/b> >>" \
        in spellings
    assert "http://ex/a" in spellings          # base triple asserted too
    # INSERT block, then DELETE block removes base + annotation
    ins = update(q, "PREFIX ex: <http://ex/> INSERT "
                    "{ ?s ex:knows ?o {| ex:conf 2 |} } "
                    "WHERE { ?s ex:knows ?o }")
    assert ins.count() == 2
    dele = update(ins, "PREFIX ex: <http://ex/> DELETE "
                       "{ ?s ex:knows ?o {| ex:conf ?c |} } "
                       "WHERE { ?s ex:knows ?o {| ex:conf ?c |} }")
    assert dele.count() == 0
