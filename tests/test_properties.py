"""Property-based tests (hypothesis; SURVEY.md §5.2.4): random JSON-LD
documents closed over the supported keyword surface, checked for
- determinism (same quads twice),
- JSON round-trip stability (dumps/loads doesn't change output),
- serializer round-trip: to_rdf(from_rdf(q)) isomorphic to q.
"""

import json

from hypothesis import example, given, settings, strategies as st

from rdflib_jsonld_spark.jsonld import from_rdf, to_rdf
from rdflib_jsonld_spark.jsonld.compare import isomorphic

EX = "http://example.org/"

CTX = {
    "ex": EX,
    "name": f"{EX}name",
    "knows": {"@id": f"{EX}knows", "@type": "@id"},
    "items": {"@id": f"{EX}items", "@container": "@list"},
    "label": {"@id": f"{EX}label", "@container": "@language"},
    "score": {"@id": f"{EX}score", "@type": "http://www.w3.org/2001/XMLSchema#double"},
    # r02 hardened surface: @nest, property-/type-scoped contexts,
    # index maps (all exercised by the random generator below)
    "meta": "@nest",
    "branch": {"@id": f"{EX}branch", "@context": {"deep": f"{EX}deep_p"}},
    "Scoped": {"@id": f"{EX}Scoped",
               "@context": {"sp": f"{EX}scoped_p"}},
    "byidx": {"@id": f"{EX}byidx", "@container": "@index"},
    # sweep-22 surface: @json coercion, @set containers (the aliased/
    # sibling-validation bug family), typed values, @included
    "jsonval": {"@id": f"{EX}jsonval", "@type": "@json"},
    "setp": {"@id": f"{EX}setp", "@container": "@set"},
}

simple_text = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"),
                           max_codepoint=0x24F),
    min_size=0, max_size=12)

scalar = st.one_of(
    simple_text,
    st.integers(min_value=-10**12, max_value=10**12),
    st.booleans(),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
)

iri_local = st.integers(min_value=0, max_value=30).map(lambda i: f"ex:n{i}")


def node_objects(depth: int):
    if depth <= 0:
        return st.fixed_dictionaries({"@id": iri_local})
    child = node_objects(depth - 1)
    value = st.one_of(
        scalar,
        child,
        st.lists(scalar, max_size=3),
        st.fixed_dictionaries({"@value": simple_text,
                               "@language": st.sampled_from(["en", "de", "fr"])}),
    )
    return st.fixed_dictionaries(
        {"@id": iri_local},
        optional={
            "@type": st.sampled_from(["ex:T1", "ex:T2", "Scoped"]),
            "name": simple_text,
            "knows": st.one_of(iri_local, child),
            "items": st.lists(scalar, max_size=4),
            "label": st.dictionaries(st.sampled_from(["en", "de"]),
                                     simple_text, max_size=2),
            "score": st.one_of(st.integers(-1000, 1000),
                               st.floats(allow_nan=False, allow_infinity=False,
                                         width=32)),
            "ex:other": st.one_of(scalar, st.lists(scalar, max_size=2)),
            # reverse values must be node objects/references — a bare
            # string under @reverse is a spec ERROR (1.1 API step
            # 13.4.9, enforced since the r03 error-behavior sweep)
            "@reverse": st.fixed_dictionaries(
                {"ex:rev": st.one_of(
                    iri_local.map(lambda i: {"@id": i}), child)}),
            "@graph": st.lists(child, max_size=2),
            # r02 surface: nested-property attachment, property-scoped
            # term inside the branch child, type-scoped term when @type
            # is "Scoped", index maps, direction-carrying value objects
            "meta": st.fixed_dictionaries(
                {}, optional={"name": simple_text,
                              "ex:nested": scalar}),
            "branch": st.fixed_dictionaries(
                {"@id": iri_local}, optional={"deep": simple_text}),
            "sp": simple_text,
            "byidx": st.dictionaries(
                st.sampled_from(["i1", "i2"]), scalar, max_size=2),
            "ex:dirval": st.fixed_dictionaries(
                {"@value": simple_text,
                 "@direction": st.sampled_from(["ltr", "rtl"])}),
            # sweep-22 families
            "jsonval": st.recursive(
                scalar | st.none(),
                lambda c: st.lists(c, max_size=3)
                | st.dictionaries(simple_text, c, max_size=3),
                max_leaves=6),
            "setp": st.fixed_dictionaries(
                {"@set": st.lists(scalar, max_size=3)}),
            "ex:typed": st.fixed_dictionaries(
                {"@value": simple_text,
                 "@type": st.sampled_from(
                     ["ex:DT", f"{EX}dt2",
                      "http://www.w3.org/2001/XMLSchema#token"])}),
            "@included": st.lists(child, max_size=2),
            # r05 star surface: annotated node references + annotated
            # value objects ([spec] JSON-LD-star draft; sweep 29/31)
            "ex:annref": st.fixed_dictionaries(
                {"@id": iri_local,
                 "@annotation": st.fixed_dictionaries(
                     {}, optional={"ex:since": scalar,
                                   "name": simple_text})}),
            "ex:annval": st.fixed_dictionaries(
                {"@value": simple_text,
                 "@annotation": st.fixed_dictionaries(
                     {"ex:cert": scalar})}),
        })


documents = node_objects(2).map(lambda n: {"@context": CTX, **n})


@given(documents)
@settings(max_examples=60, deadline=None)
def test_tordf_deterministic(doc):
    assert to_rdf(doc) == to_rdf(doc)


@given(documents)
@settings(max_examples=60, deadline=None)
def test_tordf_json_stable(doc):
    rt = json.loads(json.dumps(doc))
    assert to_rdf(doc) == to_rdf(rt)


@given(documents)
@settings(max_examples=60, deadline=None)
def test_serializer_roundtrip(doc):
    quads = to_rdf(doc)
    tree = from_rdf(quads)
    again = to_rdf(tree)
    assert isomorphic(quads, again), (
        doc, sorted(map(str, quads)), sorted(map(str, again)))


# ---------------------------------------------------------------------------
# document-level ops ([spec] JLD-API §5-6) under the same random corpus
# ---------------------------------------------------------------------------

from rdflib_jsonld_spark.jsonld.compact import compact      # noqa: E402
from rdflib_jsonld_spark.jsonld.expansion import expand     # noqa: E402
from rdflib_jsonld_spark.jsonld.flatten import flatten      # noqa: E402


@given(documents)
@settings(max_examples=60, deadline=None)
def test_expand_preserves_graph_property(doc):
    assert isomorphic(to_rdf(doc), to_rdf(expand(doc)))


@given(documents)
@settings(max_examples=60, deadline=None)
def test_flatten_preserves_graph_property(doc):
    assert isomorphic(to_rdf(doc), to_rdf(flatten(doc)))


@given(documents)
@settings(max_examples=60, deadline=None)
def test_expand_idempotent_property(doc):
    once = expand(doc)
    assert expand(once) == once


@given(documents)
@settings(max_examples=60, deadline=None)
def test_compact_roundtrip_property(doc):
    ctx_data = doc.get("@context")
    compacted = compact(doc, ctx_data)
    assert isomorphic(to_rdf(doc), to_rdf(compacted)), (doc, compacted)


@given(documents)
@settings(max_examples=60, deadline=None)
def test_compact_empty_context_roundtrip_property(doc):
    compacted = compact(doc, None)
    assert isomorphic(to_rdf(doc), to_rdf(compacted)), (doc, compacted)


def test_twin_chain_automorphism_regression():
    """Hypothesis-found: two identical list chains on one subject form
    automorphic orbits that naive signature tie-breaking pairs
    inconsistently; canonicalize() resolves them via individualization-
    refinement with cumulative colors (compare.py)."""
    for items_a, items_b in ([[False, "", 0.0, 0]] * 2,
                             [[0.0, 0, 0, False]] * 2):
        doc = {"@context": CTX, "@id": "ex:n0", "@type": "ex:T1",
               "name": "", "score": 0, "items": ["", "", ""],
               "knows": {"@id": "ex:n1", "items": items_a},
               "@reverse": {"ex:rev": {"@id": "ex:n1", "items": items_b}}}
        quads = to_rdf(doc)
        assert isomorphic(quads, to_rdf(from_rdf(quads)))
        assert not isomorphic(quads, quads[:-1])


@settings(max_examples=300, deadline=None)
@given(lex=st.text(
    alphabet=st.characters(min_codepoint=0, max_codepoint=0x2FFF,
                           blacklist_categories=("Cs",)),
    max_size=60),
    lang=st.sampled_from([None, "en", "de-at"]))
def test_nquads_literal_roundtrip_property(lex, lang):
    """quad_to_nq → parse_line is the identity for arbitrary literal
    text including ALL C0 controls (raw \\b/\\f bytes are grammar-legal
    in STRING_LITERAL_QUOTE; \\n/\\r/\\t/quote/backslash escape —
    sweep 17 pinned the full ECHAR set reader-side)."""
    from rdflib_jsonld_spark.jsonld.nquads import parse_line, quad_to_nq
    from rdflib_jsonld_spark.jsonld.tordf import IRI, LIT
    from rdflib_jsonld_spark.jsonld import keys
    dt = keys.RDF_LANGSTRING if lang else keys.XSD_STRING
    q = (None, (IRI, "http://e/s"), (IRI, "http://e/p"),
         (LIT, lex, dt, lang))
    assert parse_line(quad_to_nq(q)) == q


@settings(max_examples=150, deadline=None)
@given(documents)
def test_expand_tordf_differential(doc):
    """Dual-engine differential (the r03/r04 sweep method, automated):
    the direct to_rdf walk and the expansion walk must emit isomorphic
    quad sets for any generated document — divergences between the two
    engines were the worst bug class the hand sweeps found."""
    from rdflib_jsonld_spark.jsonld.expansion import expand
    assert isomorphic(to_rdf(expand(doc)), to_rdf(doc))


@settings(max_examples=300, deadline=None)
@given(
    lbl=st.text(alphabet=st.sampled_from(
        list("abzAZ09_-.:/#") + ["é", "ł"]),
        min_size=1, max_size=12),
    wild=st.text(alphabet=st.characters(min_codepoint=33,
                                        max_codepoint=0x2FF,
                                        blacklist_categories=("Cs",)),
                 min_size=1, max_size=12),
    lex=st.text(alphabet=st.characters(min_codepoint=0,
                                       max_codepoint=0x2FFF,
                                       blacklist_categories=("Cs",)),
                max_size=40),
    nest=st.booleans())
def test_nquads_star_roundtrip_property(lbl, wild, lex, nest):
    """quad_to_nq → parse_line over quoted-triple quads: the IDENTITY
    for inner bnode labels in the sentinel-restorable class (PN_CHARS
    plus '/#:.'), and a FIXED POINT for arbitrary labels (sweep 27
    hashes grammar-illegal chars one-way — deterministic, stable on
    re-serialization). Literal text is adversarial: '<<' / ' _:x '
    lookalikes (the ADVICE-r04 slow-path class, property-hardened)."""
    from rdflib_jsonld_spark.jsonld.nquads import parse_line, quad_to_nq
    from rdflib_jsonld_spark.jsonld.tordf import BNODE, IRI, LIT, QT
    from rdflib_jsonld_spark.jsonld import keys

    def star_quad(label):
        inner = ((BNODE, label), (IRI, "http://e/p"),
                 (LIT, lex, keys.XSD_STRING, None))
        subj = (QT, ((QT, inner), (IRI, "http://e/q"),
                     (IRI, "http://e/o"))) if nest else (QT, inner)
        return (None, subj, (IRI, "http://e/c"),
                (LIT, lex, keys.XSD_STRING, None))

    q = star_quad(lbl)
    assert parse_line(quad_to_nq(q)) == q
    once = parse_line(quad_to_nq(star_quad(wild)))
    assert parse_line(quad_to_nq(once)) == once


def _cell_quads():
    """Term quads the quad table holds: IRIs, salted bnode labels,
    literals with escapes, quoted triples nested in subject and object
    position. Labels inside quoted spellings obey the N-Quads label
    grammar (no trailing '.'); plain bnode cells take any label."""
    from rdflib_jsonld_spark.jsonld import keys
    from rdflib_jsonld_spark.jsonld.tordf import BNODE, IRI, LIT, QT
    salt = list("abzAZ09_-/#:") + ["é"]
    iris = st.sampled_from([
        "http://e/s", "http://e/p#frag", "urn:x:y", "http://e/%20o",
        keys.RDF_TYPE]).map(lambda i: (IRI, i))
    labels = st.text(alphabet=st.sampled_from(salt + ["."]),
                     min_size=1, max_size=12)
    inner_labels = labels.filter(lambda lb: not lb.endswith("."))
    lex = st.text(alphabet=st.characters(min_codepoint=0,
                                         max_codepoint=0x2FFF,
                                         blacklist_categories=("Cs",)),
                  max_size=20)
    lits = st.builds(
        lambda lx, lang, dt: (LIT, lx, keys.RDF_LANGSTRING, lang) if lang
        else (LIT, lx, dt, None), lex,
        st.sampled_from([None, "en", "de-at"]),
        st.sampled_from([keys.XSD_STRING, keys.XSD_INTEGER, "http://e/dt"]))
    inner_bnodes = inner_labels.map(lambda lb: (BNODE, lb))

    def qt(s, p, o):
        return (QT, (s, p, o))

    quoted = st.recursive(
        st.builds(qt, iris | inner_bnodes, iris, iris | inner_bnodes | lits),
        lambda q: st.builds(qt, q | iris, iris, iris | lits | q),
        max_leaves=4)
    bnodes = labels.map(lambda lb: (BNODE, lb))
    return st.tuples(st.none() | iris | bnodes, iris | bnodes | quoted,
                     iris, iris | bnodes | lits | quoted)


@settings(max_examples=300, deadline=None)
@given(_cell_quads())
def test_quad_cells_codec_roundtrip_property(q):
    """operators.expand quad_to_cells → cells_to_quad is the identity:
    the one quad-table term codec reads back every spelling it writes,
    quoted triples included."""
    from rdflib_jsonld_spark.jsonld.tordf import BNODE
    from rdflib_jsonld_spark.operators.expand import (cells_to_quad,
                                                      quad_to_cells)
    g, s, s_is_bnode, p, *obj = quad_to_cells(q)
    assert s_is_bnode == (q[1][0] == BNODE)
    assert cells_to_quad(g, s, p, *obj) == q


@given(documents)
@settings(max_examples=60, deadline=None)
def test_flatten_compacted_preserves_graph_property(doc):
    """flatten(compact_context=) — the compact_arrays=False path —
    must also preserve the graph (sweep 35 found two wrapper-shape
    bugs only reachable through it)."""
    ctx_data = doc.get("@context")
    out = flatten(doc, ctx_data, compact_context=ctx_data)
    assert isomorphic(to_rdf(doc), to_rdf(out)), (doc, out)


# ---------------------------------------------------------------------------
# chaos totality (sweep 35 campaigns: 1500-2500-example runs clean; these
# always-on versions keep the property at suite speed)
# ---------------------------------------------------------------------------

_TTL_FRAG = st.sampled_from([
    "@prefix", "ex:", "<http://e/>", ".", ";", ",", "a", "[", "]",
    "(", ")", "{", "|", "}", "<<", ">>", "{|", "|}", '"lit"', "'''x'''",
    "1.5", "-2e3", "true", "_:b", "@en", "^^", "GRAPH", "@base",
    "PREFIX", "#c\n", "\\u0041", '"unterminated', "\n", " "])


@settings(max_examples=150, deadline=None)
@given(st.one_of(st.lists(_TTL_FRAG, max_size=20).map(" ".join),
                 st.text(max_size=60)))
def test_parser_chaos_only_documented_errors(text):
    """Arbitrary text into the Turtle and N-Quads parsers either parses
    or raises the documented error class — never IndexError/KeyError/
    RecursionError (totality; 2500-example campaign clean)."""
    from rdflib_jsonld_spark.jsonld.turtle import (TurtleParseError,
                                                   parse as tparse)
    from rdflib_jsonld_spark.jsonld.nquads import parse as nqparse
    try:
        tparse(text)
    except TurtleParseError:
        pass
    try:
        nqparse(text)
    except ValueError:
        pass


_FRAME_PAT = st.one_of(
    st.just({}), st.just([]),
    st.fixed_dictionaries({}, optional={"@default": st.one_of(
        st.none(), st.just("@null"), simple_text)}),
    st.fixed_dictionaries({"@value": simple_text}),
    iri_local.map(lambda i: {"@id": EX + i[3:]}))

_FRAMES = st.fixed_dictionaries({}, optional={
    "@id": st.one_of(iri_local, st.just({}), st.just([])),
    "@type": st.one_of(st.sampled_from(["ex:T1", "ex:T2", "Scoped"]),
                       st.just({}), st.just([])),
    "@embed": st.sampled_from(["@once", "@never", "@always", True, False]),
    "@explicit": st.booleans(),
    "@requireAll": st.booleans(),
    "@omitDefault": st.booleans(),
    "name": _FRAME_PAT, "knows": _FRAME_PAT, "ex:other": _FRAME_PAT,
    "@reverse": st.fixed_dictionaries({"knows": st.just({})}),
}).map(lambda f: {"@context": CTX, **f})


@settings(max_examples=60, deadline=None)
@given(documents, _FRAMES)
def test_frame_chaos_serializable(doc, fr):
    """Any (document, frame) pair either raises a documented JsonLdError
    or produces output both frame modes can serialize (totality;
    1500-example campaign clean)."""
    from rdflib_jsonld_spark.jsonld.frame import frame
    from rdflib_jsonld_spark.jsonld.errors import JsonLdError
    try:
        out = frame(doc, fr)
    except JsonLdError:
        return
    to_rdf(out)
    to_rdf(frame(doc, fr, compact_output=False))


_Q_IRIS = st.sampled_from(
    [f"http://e/{x}" for x in "pqrst"]
    + ["http://www.w3.org/1999/02/22-rdf-syntax-ns#" + k for k in
       ("first", "rest", "nil", "type", "value", "language",
        "direction", "List", "JSON")])
_Q_DTS = st.sampled_from(
    ["http://www.w3.org/2001/XMLSchema#string",
     "http://www.w3.org/2001/XMLSchema#integer",
     "http://www.w3.org/1999/02/22-rdf-syntax-ns#JSON",
     "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"])


def _q_strategy():
    from rdflib_jsonld_spark.jsonld.tordf import BNODE, IRI, LIT, QT
    langstr = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    lit = st.tuples(st.just(LIT), st.text(max_size=8), _Q_DTS,
                    st.sampled_from([None, "en"])).map(
        lambda t: (LIT, t[1], t[2], t[3] if t[2] == langstr else None))
    node = st.one_of(
        _Q_IRIS.map(lambda i: (IRI, i)),
        st.sampled_from(["b0", "b1", "b2"]).map(lambda b: (BNODE, b)))
    inner = st.tuples(node, _Q_IRIS.map(lambda i: (IRI, i)),
                      st.one_of(node, lit))
    subj = st.one_of(node, inner.map(lambda t: (QT, t)))
    obj = st.one_of(node, lit, inner.map(lambda t: (QT, t)))
    graph = st.sampled_from([None, (IRI, "http://e/g"), (BNODE, "b9")])
    return st.lists(st.tuples(graph, subj,
                              _Q_IRIS.map(lambda i: (IRI, i)), obj),
                    min_size=1, max_size=8)


@settings(max_examples=150, deadline=None)
@given(_q_strategy())
def test_fromrdf_random_quads_roundtrip_property(quads):
    """RANDOM quad lists (malformed list vocab, compound-literal-ish
    shapes, star terms in every position, mixed graphs) round-trip
    from_rdf → to_rdf isomorphically — a different distribution than
    doc-derived quads (sweep 35: a 3000-example campaign found the
    QT-object raw-tuple leak and the @type triple-term leak)."""
    assert isomorphic(quads, to_rdf(from_rdf(quads)))


@settings(max_examples=150, deadline=None)
@given(_q_strategy())
def test_text_format_loops_property(quads):
    """Three text loops over random star quads (sweep 35 campaigns,
    2500 examples each): canonical N-Quads → parse, writer N-Quads →
    parse, TriG serialize → parse — all isomorphic. Found: the
    canonicalizer's '<<( )>>' spelling was unreadable by our own
    parser; parse() split statements on U+0085/U+2028 (splitlines ≠
    the grammar's [#xD#xA]+ EOL); Turtle's deterministic sort crashed
    on None-vs-str literal language tags."""
    from rdflib_jsonld_spark.jsonld import nquads, turtle
    from rdflib_jsonld_spark.jsonld.canonicalize import canonical_nquads
    dedup = list(set(map(tuple, quads)))
    assert isomorphic(dedup, nquads.parse(canonical_nquads(quads)))
    text = "\n".join(nquads.quad_to_nq(q) for q in quads)
    assert sorted(map(repr, nquads.parse(text))) == sorted(map(repr, quads))
    assert isomorphic(dedup, turtle.parse(turtle.serialize_trig(quads)))


def test_nel_and_triple_term_spelling_regressions():
    """Pinned minimal cases for the sweep-35 text-loop finds."""
    from rdflib_jsonld_spark.jsonld import nquads
    from rdflib_jsonld_spark.jsonld import keys as K
    from rdflib_jsonld_spark.jsonld.tordf import IRI, LIT, QT
    # U+0085 raw inside a literal must not split the statement
    q = (None, (IRI, "http://e/s"), (IRI, "http://e/p"),
         (LIT, "a\x85b c", K.XSD_STRING, None))
    assert nquads.parse(nquads.quad_to_nq(q)) == [q]
    # the N-Triples 1.2 triple-term spelling parses
    got = nquads.parse('<<( <http://e/a> <http://e/p> <http://e/b> )>> '
                       '<http://e/c> "v" .')
    assert got[0][1][0] == QT


_WILD_KEYS = st.sampled_from([
    "@id", "@type", "@value", "@language", "@direction", "@list", "@set",
    "@graph", "@context", "@reverse", "@nest", "@index", "@included",
    "@json", "@vocab", "@base", "@container", "@annotation", "@version",
    "@propagate", "@protected", "@prefix", "@import", "@none",
    "p", "q", "ex:p", "http://e/p", "", ":", "foo:bar", "_:b"])
_WILD_LEAF = st.one_of(
    st.none(), st.booleans(), st.integers(-5, 5), st.text(max_size=6),
    st.sampled_from(["@id", "@json", "@none", "ex:x", "http://e/x",
                     "ltr", "rtl", "en", ""]))
_WILD_JSON = st.recursive(
    _WILD_LEAF,
    lambda c: st.one_of(st.lists(c, max_size=3),
                        st.dictionaries(_WILD_KEYS, c, max_size=4)),
    max_leaves=12)
_WILD_DOCS = st.dictionaries(_WILD_KEYS, _WILD_JSON, max_size=5)


@settings(max_examples=250, deadline=None)
@given(_WILD_DOCS)
# a non-keyword sibling of @set in @type position: expansion dropped it
# while to-rdf raised invalid set or list object
@example({"@type": {"@set": [], "foo:bar": []}})
def test_wild_doc_dual_engine_differential(doc):
    """Sweep 36: WILD documents (keyword-biased random JSON, far off
    the generator's valid-shape distribution) through BOTH engines:
    each either raises a documented JsonLdError or succeeds; they must
    AGREE on error-vs-success and on the graph. The 20k-example
    campaign found ~14 real divergences, including three silent
    data-loss bugs (top-level @set objects dropped whole, nested
    arrays dropped in property/@reverse/@graph positions)."""
    from rdflib_jsonld_spark.jsonld.errors import JsonLdError
    from rdflib_jsonld_spark.jsonld.expansion import expand

    def run(fn):
        try:
            return fn(doc), None
        except JsonLdError as e:
            return None, type(e).__name__
        except RecursionError:
            return None, "rec"
    ex, e_err = run(expand)
    q1, t_err = run(to_rdf)
    if "rec" in (e_err, t_err):
        return
    assert (e_err is None) == (t_err is None), (doc, e_err, t_err)
    if e_err is None:
        assert isomorphic(q1, to_rdf(ex)), doc


@settings(max_examples=120, deadline=None)
@given(_WILD_DOCS)
def test_wild_doc_downstream_ops_property(doc):
    """Sweep 36 (cont.): when to_rdf accepts a wild document, the
    downstream document ops must not crash raw, and compact/flatten
    preserve the graph (8k-example campaign; found raw TypeErrors in
    context term loading: dict @container members, list @type)."""
    from rdflib_jsonld_spark.jsonld.errors import JsonLdError

    try:
        q = to_rdf(doc)
    except (JsonLdError, RecursionError):
        return
    try:
        c = compact(doc, None)
        assert isomorphic(q, to_rdf(c)), ("compact", doc)
        f = flatten(doc)
        assert isomorphic(q, to_rdf(f)), ("flatten", doc)
        from rdflib_jsonld_spark.jsonld.frame import frame
        to_rdf(frame(doc, {}))
    except (JsonLdError, RecursionError):
        return


_CTX_KW = st.sampled_from([
    "@id", "@type", "@container", "@language", "@direction", "@context",
    "@reverse", "@nest", "@prefix", "@protected", "@propagate", "@index",
    "@vocab", "@base", "@version", "@import", "@none", "@set", "@list",
    "@graph", "@json", "@value"])
_CTX_LEAF = st.one_of(
    st.none(), st.booleans(), st.integers(-3, 3),
    st.sampled_from(["@id", "@json", "@set", "@list", "@index",
                     "@language", "@graph", "@type", "@none", "@nest",
                     "ltr", "http://e/x", "ex:y", "x", "", ":", "_:b",
                     "1.1", "te rm"]))
_CTX_TDEF = st.recursive(
    _CTX_LEAF,
    lambda c: st.one_of(st.lists(c, max_size=3),
                        st.dictionaries(_CTX_KW, c, max_size=4)),
    max_leaves=8)
_CTX_NAME = st.sampled_from(["p", "ex:p", "@id", "@gr", "", ":", "x y",
                             "http://e/t", "_:b", "@", "te:rm"])
_CTXS = st.one_of(
    st.none(), st.booleans(), st.integers(-2, 2),
    st.sampled_from(["http://ctx/unknown", ""]),
    st.dictionaries(st.one_of(_CTX_NAME, _CTX_KW), _CTX_TDEF,
                    max_size=4),
    st.lists(st.one_of(st.none(),
                       st.dictionaries(_CTX_NAME, _CTX_TDEF,
                                       max_size=3)),
             max_size=3))


@settings(max_examples=150, deadline=None)
@given(_CTXS, st.sampled_from(["p", "ex:p", "http://e/p", "@type"]))
def test_wild_context_dual_engine_property(ctx, key):
    """Sweep 36 (cont.): WILD @context values (random term definitions
    over keyword fragments) — documented errors only, error-agreement,
    and graph agreement between the engines (12k-example campaign
    clean after the dict-@container / list-@type totality fixes)."""
    from rdflib_jsonld_spark.jsonld.errors import JsonLdError
    from rdflib_jsonld_spark.jsonld.expansion import expand

    doc = {"@context": ctx, "@id": "http://e/a", key: "v"}

    def run(fn):
        try:
            return fn(doc), None
        except JsonLdError as e:
            return None, type(e).__name__
        except RecursionError:
            return None, "rec"
    ex, e_err = run(expand)
    q1, t_err = run(to_rdf)
    if "rec" in (e_err, t_err):
        return
    assert (e_err is None) == (t_err is None), (doc, e_err, t_err)
    if e_err is None:
        assert isomorphic(q1, to_rdf(ex)), doc
