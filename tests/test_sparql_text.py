"""SPARQL text front-end (operators/sparql.py): parser + evaluation.

Strategy: a small fixed graph with every term flavor (typed literals,
lang tags, bnodes, named graphs), each query family checked against
hand-derived expected solutions, including queries also expressible
through the kwargs surface (match_bgp_extended / select_solutions),
where both surfaces must give the hand-derived answer.
"""

import pytest
from pyspark.sql import functions as F

from rdflib_jsonld_spark.operators.bgp import match_bgp_extended
from rdflib_jsonld_spark.operators.sparql import (SparqlError, parse_query,
                                                  sparql)

SCHEMA = ("g string, s string, s_is_bnode boolean, p string, o_kind string, "
          "o_value string, o_datatype string, o_lang string")
XSD = "http://www.w3.org/2001/XMLSchema#"
V = "http://ex.org/v#"
E = "http://ex.org/e/"

ROWS = [
    (None, E + "a", False, V + "name", "literal", "Alice", XSD + "string", None),
    (None, E + "a", False, V + "age", "literal", "30", XSD + "integer", None),
    (None, E + "a", False, V + "knows", "iri", E + "b", None, None),
    (None, E + "b", False, V + "name", "literal", "Bob", None, "en"),
    (None, E + "b", False, V + "age", "literal", "41", XSD + "integer", None),
    (None, E + "b", False, V + "knows", "iri", E + "c", None, None),
    (None, E + "c", False, V + "name", "literal", "Cara", None, None),
    (None, E + "c", False, V + "addr", "bnode", "_:addr1", None, None),
    (None, "_:addr1", True, V + "city", "literal", "Oslo", None, None),
    ("urn:g1", E + "d", False, V + "name", "literal", "Dan", None, None),
    ("urn:g2", E + "d", False, V + "age", "literal", "7", XSD + "integer", None),
]

PFX = f"PREFIX v: <{V}> PREFIX e: <{E}> "


@pytest.fixture(scope="module")
def quads(spark):
    df = spark.createDataFrame(ROWS, SCHEMA).cache()
    df.count()
    yield df
    df.unpersist()


def vals(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# --- parser ----------------------------------------------------------------

def test_parse_forms_and_prologue():
    q = parse_query("PREFIX v: <v:> BASE <http://b/> "
                    "SELECT DISTINCT ?x WHERE { ?x v:p <rel> }")
    assert q.form == "select" and q.distinct
    (kind, triples), = q.where.elements
    assert kind == "bgp"
    assert triples == [("?x", "v:p", "http://b/rel")]
    assert parse_query("ASK { ?s ?p ?o }").form == "ask"
    assert parse_query("DESCRIBE <urn:x>").describe_terms == ["urn:x"]


def test_parse_triples_elision():
    q = parse_query(PFX + "SELECT * { e:a v:p ?x , ?y ; v:q ?z . }")
    (_, triples), = q.where.elements
    assert triples == [(E + "a", V + "p", "?x"), (E + "a", V + "p", "?y"),
                       (E + "a", V + "q", "?z")]


def test_parse_a_keyword_and_path():
    q = parse_query(PFX + "SELECT * { ?x a ?t . ?x v:p/v:q+ ?y }")
    bgp = q.where.elements[0][1]
    assert bgp[0][1].endswith("22-rdf-syntax-ns#type")
    path = bgp[1][1]
    assert path == ("seq", ("link", V + "p"), ("plus", ("link", V + "q")))


def test_parse_literals():
    q = parse_query(PFX + 'SELECT * { ?x v:p "s\\"x" ; v:q 5 ; v:r -2.5 }')
    bgp = q.where.elements[0][1]
    # every literal constant is in the encoded exact-term form —
    # including PLAIN strings (sweep 37: the bare lexical form matched
    # "x"@fr and "x"^^<dt> too); numeric shorthand is a TYPED literal
    # constant (sweep 11)
    assert bgp[0][2] == '"s\\"x"'
    assert bgp[1][2] == f'"5"^^{XSD}integer'
    assert bgp[2][2] == f'"-2.5"^^{XSD}decimal'


def test_parse_errors():
    for bad, msg in [
        ("SELECT ?x WHERE { ?x v:p ?y }", "undeclared prefix"),
        ("SELECT ?x { ?x <p> ?y ", "end of query"),
        (PFX + "SELECT ?x { ?x v:p ?y } GARBAGE", "trailing"),
        (PFX + "SELECT ?x { ?x v:p ?y . SELECT ?z { ?z v:p ?w } }",
         "sub-SELECT"),
        (PFX + "SELECT (RAND() AS ?r) { ?x v:p ?y }", "nondeterministic"),
        (PFX + "SELECT ?x { SERVICE <urn:x> { ?x v:p ?y } }", "SERVICE"),
    ]:
        with pytest.raises(SparqlError, match=msg):
            parse_query(bad)


# --- SELECT evaluation ------------------------------------------------------

def test_basic_select_order(quads):
    out = sparql(quads, PFX + "SELECT ?n WHERE { ?x v:name ?n } ORDER BY ?n")
    assert [r.n for r in out.collect()] == ["Alice", "Bob", "Cara", "Dan"]


def test_differential_vs_kwargs_surface(quads):
    text = sparql(quads, PFX + """
        SELECT ?x ?n ?a WHERE {
            ?x v:name ?n .
            OPTIONAL { ?x v:age ?a }
            FILTER(?n != "Dan")
        }""")
    kwargs = match_bgp_extended(
        quads, [("?x", V + "name", "?n")],
        optional=[("?x", V + "age", "?a")],
        filters=["n <> 'Dan'"]).select("x", "n", "a")
    # both surfaces evaluate through one group evaluator, so each is
    # checked against the hand-derived answer, not against the other
    want = [(E + "a", "Alice", "30"), (E + "b", "Bob", "41"),
            (E + "c", "Cara", None)]
    assert vals(text, "x", "n", "a") == want
    assert vals(kwargs, "x", "n", "a") == want


def test_union_and_values(quads):
    out = sparql(quads, PFX + """
        SELECT ?x ?n WHERE {
          VALUES ?x { e:a e:c }
          { ?x v:name ?n } UNION { ?x v:age ?n }
        }""")
    assert vals(out, "x", "n") == sorted([
        (E + "a", "30"), (E + "a", "Alice"), (E + "c", "Cara")])


def test_filters_numeric_and_string(quads):
    out = sparql(quads, PFX + """
        SELECT ?x WHERE { ?x v:age ?a . FILTER(?a > 20 && ?a <= 41) }""")
    assert vals(out, "x") == [(E + "a",), (E + "b",)]
    out = sparql(quads, PFX + """
        SELECT ?n WHERE { ?x v:name ?n .
            FILTER(REGEX(?n, "^[ab]", "i") && STRLEN(?n) = 5) }""")
    assert vals(out, "n") == [("Alice",)]


def test_negation_minus_vs_not_exists(quads):
    # e:d's age quad lives in urn:g2 but default scoping matches ANY graph
    ne = sparql(quads, PFX + """SELECT ?x WHERE {
        ?x v:name ?n . FILTER NOT EXISTS { ?x v:age ?a } }""")
    assert vals(ne, "x") == [(E + "c",)]
    # MINUS with shared var: same
    mi = sparql(quads, PFX + """SELECT ?x WHERE {
        ?x v:name ?n . MINUS { ?x v:age ?a } }""")
    assert vals(mi, "x") == vals(ne, "x")
    # domain-disjoint MINUS removes nothing; NOT EXISTS gates globally
    mi2 = sparql(quads, PFX + """SELECT ?x WHERE {
        ?x v:name ?n . MINUS { ?y v:nope ?z } }""")
    assert mi2.count() == 4
    ne2 = sparql(quads, PFX + """SELECT ?x WHERE {
        ?x v:name ?n . FILTER NOT EXISTS { ?y v:age ?z } }""")
    assert ne2.count() == 0


def test_exists_positive(quads):
    out = sparql(quads, PFX + """SELECT ?x WHERE {
        ?x v:name ?n . FILTER EXISTS { ?x v:knows ?y } }""")
    assert vals(out, "x") == [(E + "a",), (E + "b",)]


def test_property_path_in_text(quads):
    out = sparql(quads, PFX + """
        SELECT ?y WHERE { e:a v:knows+ ?y } ORDER BY ?y""")
    assert [r.y for r in out.collect()] == [E + "b", E + "c"]
    out = sparql(quads, PFX + """
        SELECT ?n WHERE { e:a (v:knows*)/v:name ?n } ORDER BY ?n""")
    assert [r.n for r in out.collect()] == ["Alice", "Bob", "Cara"]


def test_subselect_aggregate_joins_outer(quads):
    # per-node knows-count from the subquery, name from the outer BGP
    out = sparql(quads, PFX + """
        SELECT ?name ?n WHERE {
          { SELECT ?x (COUNT(?y) AS ?n) WHERE { ?x v:knows ?y }
            GROUP BY ?x }
          ?x v:name ?name .
        } ORDER BY ?name""")
    assert vals(out, "name", "n") == [("Alice", 1), ("Bob", 1)]


def test_subselect_topk_modifiers(quads):
    # ORDER+LIMIT apply INSIDE the subquery, before the outer join.
    # A plain ?a over xsd:integer literals orders by VALUE (41 wins) —
    # §15.1 via op:numeric-less-than — including when ?a is NOT
    # projected (r05 corpus fix: unprojected order vars used to fall
    # back to lexical sort, where "7" > "41" picked Dan)
    out = sparql(quads, PFX + """
        SELECT ?name WHERE {
          { SELECT ?x WHERE { ?x v:age ?a } ORDER BY DESC(?a) LIMIT 1 }
          ?x v:name ?name .
        }""")
    assert vals(out, "name") == [("Bob",)]
    out = sparql(quads, PFX + """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?name WHERE {
          { SELECT ?x WHERE { ?x v:age ?a .
                              BIND(xsd:integer(?a) AS ?ai) }
            ORDER BY DESC(?ai) LIMIT 1 }
          ?x v:name ?name .
        }""")
    assert vals(out, "name") == [("Bob",)]


def test_subselect_projection_scopes_vars(quads):
    # inner ?y is NOT projected → the outer ?y is a fresh variable,
    # so the outer pattern cross-joins (2 subjects-with-knows × 4 names)
    out = sparql(quads, PFX + """
        SELECT ?x ?name WHERE {
          { SELECT ?x WHERE { ?x v:knows ?y } }
          ?y v:name ?name .
        }""")
    assert out.count() == 8


def test_subselect_differential_vs_kwargs(quads):
    from rdflib_jsonld_spark.operators.bgp import match_bgp
    from rdflib_jsonld_spark.operators.solutions import select_solutions
    text = sparql(quads, PFX + """
        SELECT ?x ?n WHERE {
          { SELECT ?x (COUNT(?y) AS ?n) WHERE { ?x v:knows ?y }
            GROUP BY ?x }
        }""")
    kwargs = select_solutions(
        match_bgp(quads, [("?x", V + "knows", "?y")]),
        group_by=["x"], aggregates=[("count", "?y", "n")],
        project=["x", "n"])
    assert vals(text, "x", "n") == vals(kwargs, "x", "n")


def test_graph_scoping(quads):
    named = sparql(quads, PFX + "SELECT ?n { GRAPH ?g { ?x v:name ?n } }")
    assert vals(named, "n") == [("Dan",)]
    const = sparql(quads, PFX + 'SELECT ?n { GRAPH <urn:g1> { ?x v:name ?n } }')
    assert vals(const, "n") == [("Dan",)]
    # co-occurrence in ONE graph required: name in g1, age in g2 → no row
    both = sparql(quads, PFX +
                  "SELECT ?x { GRAPH ?g { ?x v:name ?n ; v:age ?a } }")
    assert both.count() == 0


def test_bind_and_expr_projection(quads):
    out = sparql(quads, PFX + """
        SELECT ?x ?a2 (UCASE(?n) AS ?u) WHERE {
          ?x v:age ?a ; v:name ?n .
          BIND(?a * 2 AS ?a2)
        } ORDER BY ?x""")
    assert vals(out, "a2", "u") == [(14.0, "DAN"), (60.0, "ALICE"),
                                    (82.0, "BOB")]


def test_aggregates_group_having(quads):
    out = sparql(quads, PFX + """
        SELECT ?x (COUNT(*) AS ?c) (GROUP_CONCAT(?o; SEPARATOR="|") AS ?os)
        WHERE { ?x ?p ?o }
        GROUP BY ?x HAVING (COUNT(*) > 2) ORDER BY ?x""")
    rows = out.collect()
    assert [(r.x, r.c) for r in rows] == [(E + "a", 3), (E + "b", 3)]
    assert rows[0].os == "30|Alice|" + E + "b"
    # implicit group + sum/avg casts
    one = sparql(quads, PFX + """
        SELECT (SUM(?a) AS ?s) (AVG(?a) AS ?m) (COUNT(DISTINCT ?x) AS ?d)
        WHERE { ?x v:age ?a }""").collect()[0]
    assert (one.s, one.m, one.d) == (78.0, 26.0, 3)


def test_having_hidden_aggregate_dropped(quads):
    out = sparql(quads, PFX + """
        SELECT ?x (COUNT(*) AS ?c) WHERE { ?x ?p ?o }
        GROUP BY ?x HAVING (SUM(?c2) = 0)""".replace(
        "SUM(?c2) = 0", "MAX(?o) >= \"Alice\""))
    assert set(out.columns) == {"x", "c"}


def test_limit_offset_distinct(quads):
    q = PFX + "SELECT DISTINCT ?p WHERE { ?s ?p ?o } ORDER BY ?p"
    allp = [r.p for r in sparql(quads, q).collect()]
    page = [r.p for r in
            sparql(quads, q + " LIMIT 2 OFFSET 1").collect()]
    assert page == allp[1:3]


def test_hash_and_term_functions(quads):
    import hashlib
    out = sparql(quads, PFX + """
        SELECT ?h ?h2 ?same ?enc WHERE {
          ?x v:name ?n . FILTER(?n = "Alice")
          BIND(MD5(?n) AS ?h)
          BIND(SHA256(?n) AS ?h2)
          BIND(SAMETERM(?x, ?x) AS ?same)
          BIND(ENCODE_FOR_URI("a b~c/d") AS ?enc)
        }""").collect()[0]
    assert out.h == hashlib.md5(b"Alice").hexdigest()
    assert out.h2 == hashlib.sha256(b"Alice").hexdigest()
    assert out.same is True
    assert out.enc == "a%20b~c%2Fd"


def test_datetime_accessors(spark):
    rows = [(None, E + "e1", False, V + "ts", "literal",
             "2024-03-05T07:08:09", XSD + "dateTime", None)]
    q = spark.createDataFrame(rows, SCHEMA)
    out = sparql(q, PFX + """
        SELECT ?y ?mo ?d ?h ?mi WHERE {
          ?x v:ts ?t .
          BIND(YEAR(?t) AS ?y) BIND(MONTH(?t) AS ?mo)
          BIND(DAY(?t) AS ?d) BIND(HOURS(?t) AS ?h)
          BIND(MINUTES(?t) AS ?mi)
        }""").collect()[0]
    assert (out.y, out.mo, out.d, out.h, out.mi) == (2024, 3, 5, 7, 8)


def test_type_functions(quads):
    out = sparql(quads, PFX + """
        SELECT ?n (LANG(?n) AS ?l) (DATATYPE(?n) AS ?dt)
        WHERE { ?x v:name ?n } ORDER BY ?n""")
    got = [(r.n, r.l, r.dt) for r in out.collect()]
    assert got[0] == ("Alice", "", XSD + "string")
    assert got[1] == ("Bob", "en",
                      "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString")
    assert got[2] == ("Cara", "", XSD + "string")
    out = sparql(quads, PFX + """
        SELECT ?v WHERE { e:c v:addr ?v . FILTER(ISBLANK(?v)) }""")
    assert out.count() == 1
    out = sparql(quads, PFX + """
        SELECT ?o WHERE { ?s v:knows ?o . FILTER(ISIRI(?o)) }""")
    assert out.count() == 2


def test_bnode_label_is_scoped_variable(quads):
    out = sparql(quads, PFX + """
        SELECT ?c WHERE { e:c v:addr _:w . _:w v:city ?c }""")
    assert vals(out, "c") == [("Oslo",)]


# --- ASK / CONSTRUCT / DESCRIBE --------------------------------------------

def test_ask(quads):
    yes = sparql(quads, PFX + "ASK { e:a v:knows/v:knows e:c }")
    no = sparql(quads, PFX + "ASK { e:c v:knows ?y }")
    assert yes.collect()[0].ask is True
    assert no.collect()[0].ask is False


def test_construct_preserves_typing(quads):
    out = sparql(quads, PFX + """
        CONSTRUCT { ?x <urn:p:label> ?n . ?x a <urn:c:Person> }
        WHERE { ?x v:name ?n . ?x v:age ?a }""")
    rows = {(r.p, r.o_value): r for r in out.collect()}
    assert len(rows) == 4
    lbl = rows[("urn:p:label", "Bob")]
    assert lbl.o_kind == "literal" and lbl.o_lang == "en"
    typ = rows[("http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                "urn:c:Person")]
    assert typ.o_kind == "iri"


def test_construct_types_computed_literal_by_its_class(quads):
    """A computed numeric is a double typed by its promoted class: the
    template literal takes that class and STR()'s lexical form, also
    inside a quoted triple."""
    out = sparql(quads, PFX + """
        CONSTRUCT { ?x v:double ?d . ?x v:half ?h . << ?x v:k ?d >> v:q 1 }
        WHERE { ?x v:age 30 . ?x v:age ?a
                BIND(?a * 2 AS ?d) BIND(?a / 4 AS ?h) }""")
    assert vals(out, "p", "o_value", "o_datatype") == [
        (V + "double", "60", XSD + "integer"),
        (V + "half", "7.5", XSD + "decimal"),
        (V + "q", "1", XSD + "integer")]
    (qt,) = [r.s for r in out.collect() if r.p == V + "q"]
    assert f'"60"^^<{XSD}integer>' in qt


def test_describe_follows_bnodes(quads):
    out = sparql(quads, PFX + "DESCRIBE e:c")
    got = vals(out, "s", "p")
    assert (E + "c", V + "name") in got
    assert ("_:addr1", V + "city") in got      # CBD pulls the bnode closure
    assert len(got) == 3
    byvar = sparql(quads, PFX + "DESCRIBE ?x WHERE { ?x v:age 41 }")
    assert {r.s for r in byvar.collect()} == {E + "b"}


def test_describe_follows_long_rdf_list(spark):
    """The bnode closure runs to its fixpoint: a 12-item rdf:list is
    described to its end (1 + 12×2 quads; an 8-round cap returned 17)."""
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    rows = [(None, E + "L", False, V + "items", "bnode", "_:l0", None, None)]
    for i in range(12):
        rest = f"_:l{i + 1}" if i < 11 else rdf + "nil"
        rows += [(None, f"_:l{i}", True, rdf + "first", "literal", f"i{i}",
                  None, None),
                 (None, f"_:l{i}", True, rdf + "rest",
                  "bnode" if i < 11 else "iri", rest, None, None)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = sparql(df, PFX + "DESCRIBE e:L")
    assert len(vals(out, "s", "p", "o_value")) == 25


def test_describe_unbound_var_errors(quads):
    with pytest.raises(SparqlError, match="not bound"):
        sparql(quads, PFX + "DESCRIBE ?zz WHERE { ?x v:name ?n }")


# --- plan sanity ------------------------------------------------------------

def test_filter_constant_pushdown(quads, tmp_path):
    """A constant-subject text query must push the predicate constant
    into the parquet scan, same as the kwargs surface."""
    p = str(tmp_path / "q.parquet")
    quads.write.parquet(p)
    pq = quads.sparkSession.read.parquet(p)
    plan = sparql(pq, PFX + "SELECT ?n { ?x v:name ?n }") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(p), EqualTo(p," in plan


# --- sweep 13: builtin/modifier corners --------------------------------------

def test_isblank_is_kind_aware(spark):
    # a literal whose lexical form LOOKS like a bnode id is not blank
    rows = [(None, E + "a", False, V + "tag", "literal", "_:fake",
             XSD + "string", None),
            (None, E + "a", False, V + "part", "bnode", "_:real",
             None, None)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = sparql(df, PFX + "SELECT ?o { e:a ?p ?o FILTER(isBlank(?o)) }")
    assert [r.o for r in out.collect()] == ["_:real"]


def test_lang_of_nonliteral_is_type_error(quads):
    # [spec] §17.4.4.4: LANG over an IRI is a type error -> FILTER drops
    # the row; BIND leaves the var unbound (NULL)
    out = sparql(quads, PFX +
                 'SELECT ?o { e:a ?p ?o FILTER(LANG(?o) = "") }')
    assert vals(out, "o") == [("30",), ("Alice",)]
    out = sparql(quads, PFX +
                 "SELECT (LANG(?o) AS ?l) { e:a v:knows ?o }")
    assert [r.l for r in out.collect()] == [None]


def test_replace_flags_argument(quads):
    out = sparql(quads, PFX +
                 'SELECT (REPLACE(?n, "alice", "X", "i") AS ?r) '
                 "{ e:a v:name ?n }")
    assert [r.r for r in out.collect()] == ["X"]
    # invalid flags are a RUNTIME expression error (F&O err:FORX0001,
    # sweep 37) — the binding is unbound, the query still runs
    out2 = sparql(quads, PFX +
                  'SELECT (REPLACE(?n, "a", "X", "q") AS ?r) '
                  "{ e:a v:name ?n }")
    assert [r.r for r in out2.collect()] == [None]


def test_order_by_expression(quads):
    out = sparql(quads, PFX + "SELECT ?s ?age { ?s v:age ?age "
                 "FILTER(?age > 10) } ORDER BY DESC(?age * 1)")
    assert [r.s for r in out.collect()] == [E + "b", E + "a"]
    out = sparql(quads, PFX + "SELECT ?s ?age { ?s v:age ?age "
                 "FILTER(?age > 10) } ORDER BY (0 - ?age)")
    assert [r.s for r in out.collect()] == [E + "b", E + "a"]


def test_group_by_expression_as_var(quads):
    out = sparql(quads, PFX + "SELECT ?bucket (COUNT(*) AS ?n) "
                 "{ ?s v:age ?age } "
                 "GROUP BY (FLOOR(?age / 10) AS ?bucket) ORDER BY ?bucket")
    assert [(int(r.bucket), r.n) for r in out.collect()] == \
        [(0, 1), (3, 1), (4, 1)]


def test_strlang_strdt_build_terms(quads):
    # STRLANG result is a real lang-tagged TERM: term-aware = matches
    # the stored "Bob"@en, LANG sees the tag through the alias
    out = sparql(quads, PFX + "SELECT ?s { ?s v:name ?n "
                 'FILTER(?n = STRLANG("Bob", "EN")) }')
    assert vals(out, "s") == [(E + "b",)]
    out = sparql(quads, PFX + 'SELECT (LANG(?v) AS ?l) '
                 '{ BIND(STRLANG("hi", "en-GB") AS ?v) e:a v:name ?n }')
    assert [r.l for r in out.collect()] == ["en-gb"]
    # STRDT: typed term; type error (non-simple arg) leaves var unbound
    out = sparql(quads, PFX + "SELECT (DATATYPE(?v) AS ?d) "
                 '{ BIND(STRDT("5", <' + XSD + 'byte>) AS ?v) '
                 "e:a v:name ?n }")
    assert [r.d for r in out.collect()] == [XSD + "byte"]
    out = sparql(quads, PFX + "SELECT ?v { ?s v:name ?n . "
                 "e:b v:name ?tagged "
                 'BIND(STRLANG(?tagged, "fr") AS ?v) }')
    assert {r.v for r in out.collect()} == {None}


def test_bind_literal_constant_keeps_term_shape(quads):
    # BIND of a tagged constant used to decay to its lexical form
    out = sparql(quads, PFX + "SELECT ?s "
                 '{ ?s v:name ?n BIND("Bob"@en AS ?b) FILTER(?n = ?b) }')
    assert vals(out, "s") == [(E + "b",)]
    out = sparql(quads, PFX + "SELECT (isLiteral(?v) AS ?t) "
                 '{ BIND("x" AS ?v) e:a v:age ?a }')
    assert [r.t for r in out.collect()] == [True]


def test_bind_var_alias_propagates_companions(quads):
    # BIND(?o AS ?v): the alias keeps the source term's kind/lang
    out = sparql(quads, PFX + "SELECT ?s (LANG(?v) AS ?l) "
                 "{ ?s v:name ?o BIND(?o AS ?v) FILTER(isLiteral(?v)) }")
    got = {(r.s, r.l) for r in out.collect()}
    assert (E + "b", "en") in got and (E + "a", "") in got


def test_tz_and_timezone(spark):
    rows = [(None, E + "t1", False, V + "at", "literal",
             "2011-01-10T14:45:13.815-05:00", XSD + "dateTime", None),
            (None, E + "t2", False, V + "at", "literal",
             "2011-01-10T14:45:13Z", XSD + "dateTime", None),
            (None, E + "t3", False, V + "at", "literal",
             "2011-01-10T14:45:13", XSD + "dateTime", None),
            (None, E + "t4", False, V + "at", "literal",
             "2011-01-10T14:45:13+05:30", XSD + "dateTime", None)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = sparql(df, PFX + "SELECT ?s (TZ(?d) AS ?tz) "
                 "(TIMEZONE(?d) AS ?dur) { ?s v:at ?d }")
    got = {(r.s, r.tz, r.dur) for r in out.collect()}
    assert got == {(E + "t1", "-05:00", "-PT5H"),
                   (E + "t2", "Z", "PT0S"),
                   (E + "t3", "", None),
                   (E + "t4", "+05:30", "PT5H30M")}
    # TIMEZONE yields a typed term: equality folds the datatype
    out = sparql(df, PFX + "SELECT ?s { ?s v:at ?d "
                 'FILTER(TIMEZONE(?d) = STRDT("PT0S", '
                 "<" + XSD + "dayTimeDuration>)) }")
    assert vals(out, "s") == [(E + "t2",)]


# --- [...] / (...) sugar and template bnodes ---------------------------------

def test_blank_node_property_list(quads):
    # [ v:city "Oslo" ] desugars to a fresh anonymous node
    out = sparql(quads, PFX +
                 'SELECT ?s { ?s v:addr [ v:city "Oslo" ] }')
    assert vals(out, "s") == [(E + "c",)]
    # bracketed subject with no trailing property list
    out = sparql(quads, PFX + 'SELECT * { [ v:city "Oslo" ] . }')
    assert out.count() == 1
    # bracketed subject WITH a trailing property list
    rows = sparql(quads, PFX + "SELECT ?n "
                  '{ [ v:name ?n ] v:age 30 . }')
    assert [r.n for r in rows.collect()] == ["Alice"]


def test_collection_pattern(spark):
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    rows = [
        (None, E + "l", False, V + "vals", "bnode", "_:c1", None, None),
        (None, "_:c1", True, rdf + "first", "literal", "1",
         XSD + "integer", None),
        (None, "_:c1", True, rdf + "rest", "bnode", "_:c2", None, None),
        (None, "_:c2", True, rdf + "first", "literal", "2",
         XSD + "integer", None),
        (None, "_:c2", True, rdf + "rest", "iri", rdf + "nil", None, None),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = sparql(df, PFX + "SELECT ?s { ?s v:vals (1 2) }")
    assert vals(out, "s") == [(E + "l",)]
    assert sparql(df, PFX + "SELECT ?s { ?s v:vals (1 3) }").count() == 0
    # () is rdf:nil (triple-position shorthand)
    out = sparql(df, PFX + "SELECT * { _:c2 <" + rdf + "rest> () . }")
    assert out.count() == 1


def test_construct_template_bnodes(quads):
    # one fresh bnode per solution, shared across the row's triples
    out = sparql(quads, PFX + "CONSTRUCT { ?s v:stat _:m . "
                 '_:m v:of ?n } WHERE { ?s v:name ?n FILTER(?n = "Alice" '
                 '|| ?n = "Cara") }')
    rows = out.collect()
    assert len(rows) == 4
    minted = {r.o_value for r in rows if r.p == V + "stat"}
    subs = {r.s for r in rows if r.p == V + "of"}
    assert minted == subs and len(minted) == 2
    assert all(v.startswith("_:") for v in minted)
    assert all(r.o_kind == "bnode" for r in rows if r.p == V + "stat")
    # a WHERE label does NOT leak into a same-named template label
    out = sparql(quads, PFX + "CONSTRUCT { ?s v:place _:a } "
                 "WHERE { ?s v:addr _:a }")
    r, = out.collect()
    assert r.o_value != "_:addr1" and r.o_value.startswith("_:")


def test_construct_where_shortform(quads):
    out = sparql(quads, PFX + "CONSTRUCT WHERE { ?s v:name ?n } LIMIT 10")
    rows = out.collect()
    assert {(r.s, r.p, r.o_value) for r in rows} == {
        (E + "a", V + "name", "Alice"), (E + "b", V + "name", "Bob"),
        (E + "c", V + "name", "Cara"), (E + "d", V + "name", "Dan")}
    # lang/datatype carried through from the matched terms
    tagged = [r for r in rows if r.o_value == "Bob"]
    assert tagged[0].o_lang == "en"
    with pytest.raises(SparqlError, match="plain"):
        sparql(quads, PFX +
               "CONSTRUCT WHERE { ?s v:name ?n FILTER(?n > \"A\") }")
