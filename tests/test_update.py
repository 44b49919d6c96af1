"""SPARQL 1.1 Update (operators/update.py): parser + set-algebra
evaluation over quad DataFrames. Fixture mirrors test_sparql_text's
graph; identity checks use the engine's literal conventions
(xsd:string explicit, rdf:langString for tagged)."""

import pytest
from pyspark.sql import functions as F

from rdflib_jsonld_spark.operators.update import (SparqlError, parse_update,
                                                  update)

SCHEMA = ("g string, s string, s_is_bnode boolean, p string, o_kind string, "
          "o_value string, o_datatype string, o_lang string, "
          "conv_id string, turn_idx int")
XSD = "http://www.w3.org/2001/XMLSchema#"
V = "http://ex.org/v#"
E = "http://ex.org/e/"

ROWS = [
    (None, E + "a", False, V + "name", "literal", "Alice", XSD + "string",
     None, "c0", 0),
    (None, E + "a", False, V + "age", "literal", "30", XSD + "integer",
     None, "c0", 0),
    (None, E + "a", False, V + "knows", "iri", E + "b", None, None, "c0", 1),
    (None, E + "b", False, V + "name", "literal", "Bob", XSD + "string",
     None, "c1", 0),
    (None, E + "b", False, V + "knows", "iri", E + "c", None, None, "c1", 0),
    ("urn:g1", E + "d", False, V + "name", "literal", "Dan", XSD + "string",
     None, "c2", 0),
]

PFX = f"PREFIX v: <{V}> PREFIX e: <{E}> "
KEY = ["g", "s", "p", "o_kind", "o_value", "o_datatype", "o_lang"]


@pytest.fixture(scope="module")
def quads(spark):
    df = spark.createDataFrame(ROWS, SCHEMA).cache()
    df.count()
    yield df
    df.unpersist()


def keyset(df):
    return {tuple(r[c] for c in KEY) for r in df.collect()}


# --- parser ----------------------------------------------------------------

def test_parse_forms():
    ops = parse_update(PFX + """
        INSERT DATA { e:x v:p "1"^^<http://www.w3.org/2001/XMLSchema#int> };
        DELETE DATA { GRAPH <urn:g> { e:x v:p e:y } } ;
        DELETE WHERE { ?s v:gone ?o } ;
        WITH <urn:g> DELETE { ?s v:old ?o } INSERT { ?s v:new ?o }
        WHERE { ?s v:old ?o }""")
    kinds = [op[0] for op in ops]
    assert kinds == ["insert_data", "delete_data", "modify", "modify"]
    g, s, p, k, val, dt, lang = ops[0][1][0]
    assert (g, k, val, dt) == (None, "literal", "1", XSD + "int")
    assert ops[1][1][0][0] == "urn:g"
    assert ops[3][4] == "urn:g"                      # WITH graph


def test_parse_literal_datatypes():
    (_, rows), = parse_update(PFX + """INSERT DATA {
        e:x v:a "plain" . e:x v:b "hei"@no . e:x v:c 5 .
        e:x v:d 2.5 . e:x v:e 1e3 . e:x v:f true }""")
    by_p = {p: (v, dt, lang) for _, _, p, _, v, dt, lang in rows}
    assert by_p[V + "a"] == ("plain", XSD + "string", None)
    assert by_p[V + "b"] == (
        "hei", "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "no")
    assert by_p[V + "c"] == ("5", XSD + "integer", None)
    assert by_p[V + "d"] == ("2.5", XSD + "decimal", None)
    assert by_p[V + "e"] == ("1000.0", XSD + "double", None)
    assert by_p[V + "f"] == ("true", XSD + "boolean", None)


def test_parse_errors():
    for bad, msg in [
        ("INSERT DATA { ?x <urn:p> 1 }", "variable"),
        ("INSERT DATA { _:b <urn:p> 1 }", "blank nodes"),
        ("DELETE { <urn:s> <urn:p>+ ?o } WHERE { ?s ?p ?o }",
         "property paths"),
        ("DELETE { _:n <urn:p> ?o } WHERE { ?s ?p ?o }", "blank nodes"),
        ("WITH <urn:g> INSERT DATA { <urn:s> <urn:p> 1 }", "WITH"),
        ("SELECT ?x WHERE { ?x ?p ?o }", "INSERT/DELETE"),
    ]:
        with pytest.raises(SparqlError, match=msg):
            parse_update(bad)


# --- ground data -----------------------------------------------------------

def test_insert_data_and_set_semantics(quads):
    out = update(quads, PFX + """INSERT DATA {
        e:z v:name "Zoe" .
        GRAPH <urn:g1> { e:z v:age 9 } .
        e:a v:name "Alice" }""")          # already present → no dup
    assert out.count() == quads.count() + 2
    added = keyset(out) - keyset(quads)
    assert added == {
        (None, E + "z", V + "name", "literal", "Zoe", XSD + "string", None),
        ("urn:g1", E + "z", V + "age", "literal", "9", XSD + "integer",
         None)}
    # inserted rows carry NULL lineage; originals keep theirs
    assert out.where(F.col("s") == E + "z")
    assert out.where((F.col("s") == E + "z")
                     & F.col("conv_id").isNull()).count() == 2
    assert out.where(F.col("conv_id").isNull()).count() == 2


def test_insert_repeated_quad_stored_once(quads):
    """INSERT DATA stores a quad repeated in its block once, also when
    the repeat differs only in language-tag case or in an explicit
    ``xsd:string`` (the identity DELETE uses)."""
    n = quads.count()
    twice = update(quads, PFX + 'INSERT DATA { e:z v:p "v" . e:z v:p "v" }')
    assert twice.count() == n + 1
    typed = update(quads, PFX + 'INSERT DATA { e:z v:p "v" . e:z v:p '
                   f'"v"^^<{XSD}string> }}')
    assert typed.count() == n + 1
    cased = update(quads, PFX + 'INSERT DATA { e:z v:p "v"@EN . '
                                'e:z v:p "v"@en }')
    assert [r.o_lang for r in cased.where(F.col("s") == E + "z")
            .collect()] == ["en"]
    assert update(cased, PFX + 'DELETE DATA { e:z v:p "v"@en }').count() \
        == n


def test_load_repeated_quad_stored_once(quads, tmp_path):
    """LOAD stores a quad repeated in its file once, also when the
    repeat differs only in language-tag case."""
    n = quads.count()
    nq = tmp_path / "repeat.nq"
    nq.write_text(f'<{E}n> <{V}name> "New" .\n' * 2
                  + f'<{E}n> <{V}p> "v"@en .\n<{E}n> <{V}p> "v"@EN .\n')
    out = update(quads, f"LOAD <file://{nq}>")
    assert out.count() == n + 2
    assert [r.o_lang for r in out.where(F.col("p") == V + "p")
            .collect()] == ["en"]


def test_emptied_graph_reads_back_empty(quads, tmp_path):
    """A graph table that CLEAR ALL emptied holds no data file, only
    ``_SUCCESS``; it reads back as 0 rows with the graph schema."""
    from rdflib_jsonld_spark.sources.quads_io import read_graph, write_quads
    path = str(tmp_path / "graph")
    write_quads(update(quads, "CLEAR ALL"), path, n_buckets=4)
    back = read_graph(quads.sparkSession, path)
    assert back.count() == 0
    assert back.columns == quads.columns + ["s_bucket"]


def test_anti_join_does_not_aggregate_store(quads):
    """An insert anti-joins its rows against the whole store; the store
    side is not deduplicated (an anti-join ignores its multiplicity),
    so the plan has no Aggregate over it."""
    from rdflib_jsonld_spark.operators.update import _anti_on_key
    small = quads.limit(1)
    plan = _anti_on_key(small, quads)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "Aggregate" not in plan
    assert "LeftAnti" in plan


def test_delete_data_exact_identity(quads):
    # datatype must match the stored quad exactly
    miss = update(quads, PFX + 'DELETE DATA { e:a v:name "Alice" }')
    assert miss.count() == quads.count() - 1
    wrong_dt = update(quads, PFX + 'DELETE DATA { e:a v:name "Alice"@en }')
    assert wrong_dt.count() == quads.count()
    graph_scoped = update(quads, PFX + 'DELETE DATA { e:d v:name "Dan" }')
    assert graph_scoped.count() == quads.count()   # lives in urn:g1
    hit = update(quads, PFX +
                 'DELETE DATA { GRAPH <urn:g1> { e:d v:name "Dan" } }')
    assert hit.count() == quads.count() - 1


# --- pattern forms ---------------------------------------------------------

def test_delete_where(quads):
    out = update(quads, PFX + "DELETE WHERE { ?s v:knows ?o }")
    assert out.count() == quads.count() - 2
    assert out.where(F.col("p") == V + "knows").count() == 0


def test_modify_rename_predicate(quads):
    out = update(quads, PFX + """
        DELETE { ?s v:knows ?o } INSERT { ?s v:friend ?o }
        WHERE { ?s v:knows ?o }""")
    assert out.count() == quads.count()
    assert out.where(F.col("p") == V + "knows").count() == 0
    pairs = {(r.s, r.o_value)
             for r in out.where(F.col("p") == V + "friend").collect()}
    assert pairs == {(E + "a", E + "b"), (E + "b", E + "c")}


def test_modify_preserves_literal_typing(quads):
    # template object var bound to a typed literal keeps datatype
    out = update(quads, PFX + """
        DELETE { ?s v:age ?a } INSERT { ?s v:years ?a }
        WHERE { ?s v:age ?a }""")
    r, = out.where(F.col("p") == V + "years").collect()
    assert (r.o_kind, r.o_value, r.o_datatype) == \
        ("literal", "30", XSD + "integer")


def test_insert_types_computed_literal_by_its_class(quads):
    """INSERT stores a computed integer as "60"^^xsd:integer, the
    datatype and lexical form SELECT's DATATYPE()/STR() report, not as
    the double it is computed in."""
    out = update(quads, PFX + """
        INSERT { ?x v:double ?d } WHERE { ?x v:age ?a BIND(?a * 2 AS ?d) }""")
    got = out.where(F.col("p") == V + "double").collect()
    assert [(r.o_value, r.o_datatype) for r in got] == [("60", XSD + "integer")]


def test_modify_insert_into_graph_var(quads):
    # GRAPH ?g in the template routes per-solution
    out = update(quads, PFX + """
        INSERT { GRAPH ?g { ?s v:copied "y" } }
        WHERE { GRAPH ?g { ?s v:name ?n } }""")
    r, = out.where(F.col("p") == V + "copied").collect()
    assert (r.g, r.s) == ("urn:g1", E + "d")


def test_with_scopes_where_and_template(quads):
    out = update(quads, PFX + """
        WITH <urn:g1> DELETE { ?s v:name ?n } INSERT { ?s v:label ?n }
        WHERE { ?s v:name ?n }""")
    # only the urn:g1 name matched; default-graph names untouched
    assert out.where(F.col("p") == V + "name").count() == 2
    r, = out.where(F.col("p") == V + "label").collect()
    assert (r.g, r.o_value) == ("urn:g1", "Dan")


def test_reinsert_of_deleted_quad_survives(quads):
    out = update(quads, PFX + """
        DELETE { ?s v:knows ?o } INSERT { e:a v:knows e:b }
        WHERE { ?s v:knows ?o }""")
    rows = out.where(F.col("p") == V + "knows").collect()
    assert [(r.s, r.o_value) for r in rows] == [(E + "a", E + "b")]


def test_sequence_applies_in_order(quads):
    out = update(quads, PFX + """
        INSERT DATA { e:t v:flag "x" } ;
        DELETE WHERE { e:t v:flag ?o } ;
        INSERT DATA { e:t v:flag "x" }""")
    assert out.where(F.col("s") == E + "t").count() == 1


def test_data_operations_stay_on_the_driver(quads):
    """DATA operations only edit the request's driver-held delta; the
    one Spark job of this request is the probe that finds the insert
    the store already holds, which keeps its row and lineage."""
    sc = quads.sparkSession.sparkContext
    sc.setJobGroup("data-ops", "data-ops")
    try:
        out = update(quads, PFX + """
            INSERT DATA { e:t v:flag "x" } ;
            DELETE DATA { e:b v:name "Bob" } ;
            INSERT DATA { e:a v:name "Alice" . e:b v:knows e:c }""")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("data-ops")) <= 1
    rows = {(r.s, r.p): r.conv_id for r in out.collect()}
    assert len(rows) == quads.count()
    assert (E + "b", V + "name") not in rows
    assert rows[(E + "t", V + "flag")] is None
    assert rows[(E + "a", V + "name")] == "c0"
    assert rows[(E + "b", V + "knows")] == "c1"


def test_delta_keys_spell_any_term(spark):
    """The driver-held delta matches store rows by their identity key
    whatever the cells hold: quotes, backslashes, separators, newlines,
    empty strings, NULL graph and datatype, and more than ten keys."""
    vals = ["it's", "back\\slash", 'quo"te', "ünï", "tab\tnl\n", "",
            "a|1:b", "-", "2:ab", "x'y\\'z", "plain", "last"]
    rows = [(None, f"{E}s{i}", False, V + "v",
             "literal", v, None if i % 3 else XSD + "string",
             "EN" if i == 4 else None, f"c{i}", i)
            for i, v in enumerate(vals)]
    store = spark.createDataFrame(rows, SCHEMA)
    n = len(rows)
    assert update(store, PFX + "DELETE WHERE { ?s v:v ?o }").count() == 0
    again = update(store, PFX + "INSERT { ?s v:v ?o } WHERE { ?s v:v ?o }")
    assert sorted(r.conv_id for r in again.collect()) == \
        sorted(r[8] for r in rows)      # every row kept, lineage too
    copied = update(store, PFX + "INSERT { ?s v:w ?o } WHERE { ?s v:v ?o }")
    assert copied.count() == 2 * n
    assert update(copied, PFX + "DELETE { ?s v:v ?o } WHERE "
                          "{ ?s v:w ?o }").count() == n


# --- graph management ------------------------------------------------------

def test_clear_selectors(quads):
    n_named = 1            # only the urn:g1 quad
    assert update(quads, "CLEAR DEFAULT").count() == n_named
    assert update(quads, "CLEAR NAMED").count() == quads.count() - n_named
    assert update(quads, "CLEAR ALL").count() == 0
    assert update(quads, "DROP SILENT GRAPH <urn:g1>").count() == \
        quads.count() - n_named
    assert update(quads, "CLEAR GRAPH <urn:nope>").count() == quads.count()
    assert update(quads, "CREATE GRAPH <urn:new>").count() == quads.count()


def test_add_copy_move(quads):
    # ADD keeps the source and set-unions into the target
    added = update(quads, "ADD DEFAULT TO GRAPH <urn:g1>")
    assert added.where(F.col("g") == "urn:g1").count() == \
        1 + (quads.count() - 1)
    assert added.where(F.col("g").isNull()).count() == quads.count() - 1
    # COPY overwrites the target, source intact
    copied = update(quads, "COPY GRAPH <urn:g1> TO DEFAULT")
    assert copied.where(F.col("g").isNull()).count() == 1
    assert copied.where(F.col("g") == "urn:g1").count() == 1
    # MOVE overwrites the target and clears the source
    moved = update(quads, "MOVE GRAPH <urn:g1> TO DEFAULT")
    assert moved.where(F.col("g") == "urn:g1").count() == 0
    r, = moved.where(F.col("g").isNull()).collect()
    assert r.o_value == "Dan"
    # same-graph is a no-op
    assert update(quads, "MOVE DEFAULT TO DEFAULT").count() == quads.count()


def test_load_nquads(quads, tmp_path):
    from rdflib_jsonld_spark.sources.nquads_io import write_nquads
    spark = quads.sparkSession
    src = spark.createDataFrame(
        [(None, E + "n", False, V + "name", "literal", "New",
          XSD + "string", None, "cx", 0)], SCHEMA)
    p = str(tmp_path / "ext.nq")
    write_nquads(src, p)
    out = update(quads, f"LOAD <file://{p}>")
    assert out.count() == quads.count() + 1
    into = update(quads, f"LOAD <file://{p}> INTO GRAPH <urn:ext>")
    r, = into.where(F.col("s") == E + "n").collect()
    assert r.g == "urn:ext"
    # loading twice is idempotent (set semantics)
    twice = update(quads, f"LOAD <file://{p}> ; LOAD <file://{p}>")
    assert twice.count() == quads.count() + 1


def test_load_dispatches_on_format(spark, tmp_path):
    """LOAD reads Turtle/TriG and JSON-LD sources by extension, not just
    N-Quads; INTO GRAPH relabels all of them."""
    from rdflib_jsonld_spark.operators.update import update
    (tmp_path / "g.ttl").write_text(
        "@prefix ex: <http://e/> .\nex:s ex:p ex:o .\n")
    (tmp_path / "d.jsonld").write_text(
        '{"@id": "http://e/s2", "http://e/p2": "v"}')
    empty = spark.createDataFrame(
        [], "g string, s string, s_is_bnode boolean, p string, "
            "o_kind string, o_value string, o_datatype string, "
            "o_lang string")
    out = update(empty,
                 f"LOAD <file://{tmp_path}/g.ttl> INTO GRAPH <http://e/g> ;"
                 f"LOAD <file://{tmp_path}/d.jsonld>")
    got = {(r.g, r.s, r.p) for r in out.collect()}
    assert got == {("http://e/g", "http://e/s", "http://e/p"),
                   (None, "http://e/s2", "http://e/p2")}


# --- USING / USING NAMED ([spec] Update §3.1.3, sweep 11) -------------------

def test_using_scopes_where_to_named_graph(quads):
    # WHERE's default graph := urn:g1 only — the store's default-graph
    # names (Alice/Bob) must not match
    out = update(quads, PFX + "INSERT { ?s v:flag true } "
                 "USING <urn:g1> WHERE { ?s v:name ?n }")
    flagged = {r.s for r in
               out.where(F.col("p") == V + "flag").collect()}
    assert flagged == {E + "d"}
    # template constants carry their RDF datatype (sweep 11: booleans
    # and numbers previously emitted as xsd:string)
    r, = out.where(F.col("p") == V + "flag").collect()
    assert (r.o_value, r.o_datatype) == (
        "true", "http://www.w3.org/2001/XMLSchema#boolean")


def test_using_named_scopes_graph_clause(quads):
    out = update(quads, PFX + "INSERT { ?s v:flag true } "
                 "USING NAMED <urn:g1> WHERE { GRAPH ?g { ?s v:name ?n } }")
    flagged = {r.s for r in
               out.where(F.col("p") == V + "flag").collect()}
    assert flagged == {E + "d"}


def test_using_overrides_with_for_where(quads):
    # USING scopes the WHERE to g1; WITH still targets urn:g2 for the
    # template — nothing in g2 matches the delete, so the store is
    # unchanged
    out = update(quads, PFX + "WITH <urn:g2> DELETE { ?s v:name ?n } "
                 "USING <urn:g1> WHERE { ?s v:name ?n }")
    assert keyset(out) == keyset(quads)


def test_insert_template_bnodes(quads):
    # one fresh bnode per solution, shared across that row's triples
    out = update(quads, PFX +
                 "INSERT { ?s v:mark _:m . _:m v:of ?n } "
                 "WHERE { ?s v:name ?n }")
    new = out.where(F.col("p").isin(V + "mark", V + "of"))
    rows = new.collect()
    assert len(rows) == 6   # 3 names x 2 template triples
    minted = {r.o_value for r in rows if r.p == V + "mark"}
    heads = {r.s for r in rows if r.p == V + "of"}
    assert minted == heads and len(minted) == 3
    assert all(v.startswith("_:") for v in minted)
    assert all(r.s_is_bnode for r in rows if r.p == V + "of")
    # DELETE templates must still reject bnodes ([spec] Update 3.1.3.2)
    with pytest.raises(SparqlError, match="not allowed in DELETE"):
        parse_update(PFX + "DELETE { ?s v:p _:b } WHERE { ?s v:p ?o }")
    with pytest.raises(SparqlError, match="not allowed in DATA"):
        parse_update(PFX + "INSERT DATA { e:x v:p [ v:q 1 ] }")


def test_using_dataset_corners(spark):
    """r05 sweep: USING / USING NAMED dataset composition corners,
    pinned under the engine's ConjunctiveGraph union-default convention
    (plain patterns match the union of the WHERE dataset — bgp.py:308):
    - USING NAMED only: plain patterns see the named graphs' rows
      (union semantics); GRAPH ?g ranges over the named set;
    - USING only: GRAPH ?g matches NOTHING (named set empty, rows moved
      to the default graph);
    - templates still target the store-wide WITH scope, inserts land in
      the default graph absent GRAPH/WITH."""
    from rdflib_jsonld_spark.operators.update import update
    rows = [("http://g1", "http://a", False, "http://p", "literal", "1",
             None, None),
            ("http://g2", "http://b", False, "http://p", "literal", "2",
             None, None),
            (None, "http://c", False, "http://p", "literal", "3",
             None, None)]
    q = spark.createDataFrame(
        rows, "g string, s string, s_is_bnode boolean, p string, "
              "o_kind string, o_value string, o_datatype string, "
              "o_lang string")

    def marks(df):
        return sorted((r.g, r.s) for r in df.collect()
                      if r.p == "http://mark")

    out = update(q, 'INSERT { ?s <http://mark> "x" } '
                    'USING NAMED <http://g1> '
                    'WHERE { ?s <http://p> ?o }')
    assert marks(out) == [(None, "http://a")]
    out2 = update(q, 'INSERT { ?s <http://mark> "y" } '
                     'USING <http://g1> WHERE { ?s <http://p> ?o }')
    assert marks(out2) == [(None, "http://a")]
    out3 = update(q, 'INSERT { ?s <http://mark> "z" } '
                     'USING NAMED <http://g2> '
                     'WHERE { GRAPH ?g { ?s <http://p> ?o } }')
    assert marks(out3) == [(None, "http://b")]
    out4 = update(q, 'INSERT { ?s <http://mark> "w" } '
                     'USING <http://g1> '
                     'WHERE { GRAPH ?g { ?s <http://p> ?o } }')
    assert marks(out4) == []
    # nonexistent USING graph -> empty dataset -> no solutions
    out5 = update(q, 'INSERT { ?s <http://mark> "v" } '
                     'USING <http://nope> WHERE { ?s <http://p> ?o }')
    assert marks(out5) == []
