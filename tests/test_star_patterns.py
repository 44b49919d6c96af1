"""Quoted triple terms ``("qt", s, p, o)`` on the SPARQL query and Update
surfaces ([spec] SPARQL 1.2 WD quoted triple patterns and annotation
syntax): every pattern, template and DATA term is traversed by the one
walker (``bgp.leaves`` / ``bgp.map_leaves``), so a term inside
``<< … >>`` is a variable, bnode or literal exactly as it is outside."""

import pytest

from rdflib_jsonld_spark.operators.sparql import sparql
from rdflib_jsonld_spark.operators.update import SparqlError, update

E = "http://e/"
XSD = "http://www.w3.org/2001/XMLSchema#"
LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
SCHEMA = ("g string, s string, s_is_bnode boolean, p string, o_kind string, "
          "o_value string, o_datatype string, o_lang string")
PFX = f"PREFIX e: <{E}> "
QT_X = f"<< <{E}x1> <{E}q> <{E}a1> >>"
QT_NAME = f'<< <{E}x1> <{E}name> "Mo"@en >>'


def iri(s, p, o):
    return (None, E + s, False, E + p, "iri", E + o, None, None)


@pytest.fixture(scope="module")
def store(spark):
    rows = [iri("x1", "p", "y1"), iri("x2", "p", "y2"), iri("a1", "s", "w1"),
            (None, QT_X, False, E + "r", "iri", E + "z1", None, None),
            (None, E + "s1", False, E + "r", "triple", QT_NAME, None, None)]
    df = spark.createDataFrame(rows, SCHEMA).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture()
def empty(spark):
    return spark.createDataFrame([], SCHEMA)


def cells(df):
    return sorted(tuple(r) for r in df.select(
        "g", "s", "p", "o_kind", "o_value", "o_datatype", "o_lang")
        .collect())


def test_insert_data_quoted_object_is_a_triple(empty):
    out = update(empty, f"INSERT DATA {{ <{E}s> <{E}r> "
                        f"<< <{E}a> <{E}b> <{E}c> >> }}")
    assert cells(out) == [(None, E + "s", E + "r", "triple",
                           f"<< <{E}a> <{E}b> <{E}c> >>", None, None)]


def test_data_literal_inside_quoted_triple(empty):
    text = f'{{ <{E}s> <{E}r> << <{E}a> <{E}b> "x"@en >> }}'
    out = update(empty, "INSERT DATA " + text)
    assert cells(out) == [(None, E + "s", E + "r", "triple",
                           f'<< <{E}a> <{E}b> "x"@en >>', None, None)]
    assert cells(update(out, "DELETE DATA " + text)) == []


@pytest.mark.parametrize("op", ["INSERT", "DELETE"])
def test_data_variable_inside_quoted_triple_is_rejected(empty, op):
    with pytest.raises(SparqlError,
                       match="variables not allowed in DATA blocks"):
        update(empty, f"{op} DATA {{ <{E}s> <{E}r> "
                      f"<< <{E}a> <{E}b> ?v >> }}")


def test_data_quoted_subject_and_annotation(empty):
    out = update(empty, f"INSERT DATA {{ << <{E}a> <{E}b> <{E}c> >> "
                        f"<{E}p> <{E}o> }}")
    qt = f"<< <{E}a> <{E}b> <{E}c> >>"
    assert cells(out) == [(None, qt, E + "p", "iri", E + "o", None, None)]
    out = update(empty, f"INSERT DATA {{ <{E}a> <{E}b> <{E}c> "
                        f"{{| <{E}p> 5 |}} }}")
    assert cells(out) == [
        (None, qt, E + "p", "literal", "5", XSD + "integer", None),
        (None, E + "a", E + "b", "iri", E + "c", None, None)]
    assert not out.where("s_is_bnode").count()


def test_data_literal_subject_inside_quoted_triple_is_rejected(empty):
    with pytest.raises(SparqlError, match="not valid RDF"):
        update(empty, f'INSERT DATA {{ << "x" <{E}b> <{E}c> >> '
                      f'<{E}p> <{E}o> }}')


def test_template_bnode_inside_quoted_triple(store):
    where = f"WHERE {{ <{E}x1> <{E}p> ?y }}"
    tmpl = f"{{ <{E}s> <{E}t> << _:b <{E}q> ?y >> }}"
    out = cells(sparql(store, f"CONSTRUCT {tmpl} {where}"))
    assert len(out) == 1 and out[0][3] == "triple"
    assert out[0][4].startswith("<< _:tb0_") \
        and out[0][4].endswith(f" <{E}q> <{E}y1> >>")
    new = [c for c in cells(update(store, f"INSERT {tmpl} {where}"))
           if c[2] == E + "t"]
    assert len(new) == 1 and new[0][4].startswith("<< _:ub0_")
    with pytest.raises(SparqlError, match="blank nodes are not allowed"):
        update(store, f"DELETE {tmpl} {where}")


def test_construct_where_with_quoted_object(store):
    out = cells(sparql(store, PFX + "CONSTRUCT WHERE "
                       "{ ?x e:r << ?a e:name ?c >> }"))
    assert out == [(None, E + "s1", E + "r", "triple", QT_NAME, None,
                    None)]


def test_optional_binding_inside_quoted_subject(store):
    def rows(opt):
        return {tuple(sorted(r.asDict().items())) for r in sparql(
            store, PFX + f"SELECT * {{ ?x e:p ?y OPTIONAL {{ {opt} }} "
                         "?a e:s ?w }").collect()}

    # ?x2 has no annotation: its ?a stays unbound in the OPTIONAL and
    # joins any ?a of the next pattern ([spec] §18.3 compatibility)
    assert rows("<< ?x e:q ?a >> e:r ?z") == {
        (("a", E + "a1"), ("w", E + "w1"), ("x", E + "x1"),
         ("y", E + "y1"), ("z", E + "z1")),
        (("a", E + "a1"), ("w", E + "w1"), ("x", E + "x2"),
         ("y", E + "y2"), ("z", None))}


def test_quoted_object_variable_keeps_its_literal_type(store):
    pat = "?s e:r << ?x e:name ?n >>"
    r, = sparql(store, PFX + f"SELECT ?n (lang(?n) AS ?l) "
                             f"(isLiteral(?n) AS ?lit) {{ {pat} }}").collect()
    assert (r.n, r.l, r.lit) == ("Mo", "en", True)
    assert sparql(store, PFX + f'SELECT ?n {{ {pat} '
                               f'FILTER(lang(?n) = "en") }}').count() == 1
    out = cells(sparql(store, PFX + f"CONSTRUCT {{ ?x e:copy ?n }} "
                                    f"WHERE {{ {pat} }}"))
    assert out == [(None, E + "x1", E + "copy", "literal", "Mo",
                    LANGSTRING, "en")]


def test_typed_column_inside_quoted_template(store):
    """A computed (COUNT) column in a quoted template slot is a literal
    of its datatype, as in the top-level object slot; it used to be
    spelled as a term by its value and fail the string-to-BIGINT cast."""
    out = cells(sparql(store, PFX + "CONSTRUCT { ?x e:t << ?x e:n ?c >> } "
                       "WHERE { SELECT ?x (COUNT(*) AS ?c) "
                       "{ ?x e:p ?y } GROUP BY ?x }"))
    assert out == [(None, E + x, E + "t", "triple",
                    f'<< <{E}{x}> <{E}n> "1"^^<{XSD}integer> >>', None, None)
                   for x in ("x1", "x2")]


def test_bnode_predicate_inside_quoted_template(store):
    """A template bnode in a quoted predicate slot is not valid RDF:
    CONSTRUCT skips the triple, as it skips a top-level one, and an
    INSERT template is rejected."""
    tmpl = f"{{ <{E}s> <{E}t> << ?x _:b ?y >> }}"
    where = f"WHERE {{ ?x <{E}p> ?y }}"
    assert cells(sparql(store, f"CONSTRUCT {tmpl} {where}")) == []
    with pytest.raises(SparqlError, match="cannot be a predicate"):
        update(store, f"INSERT {tmpl} {where}")
