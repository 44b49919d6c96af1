"""BGP matching over constructed quad tables."""

from pyspark.sql import functions as F

from rdflib_jsonld_spark.jsonld.keys import XSD_STRING
from rdflib_jsonld_spark.operators.bgp import encode_literal, match_bgp
from rdflib_jsonld_spark.operators.expand import (
    QUAD_SCHEMA, dedup_quads, expand_transcripts)
from rdflib_jsonld_spark.sources import transcripts as tr
from rdflib_jsonld_spark.sources.registry import KG, OWL_SAMEAS, VOCAB

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _quads(spark, rows):
    full = [(None, s, s.startswith("_:"), p, k, o, None, None, "c", 0)
            for s, p, o, k in rows]
    return spark.createDataFrame(full, schema=QUAD_SCHEMA)


def test_chain_pattern(spark):
    q = _quads(spark, [
        ("e:a", "e:knows", "e:b", "iri"),
        ("e:b", "e:knows", "e:c", "iri"),
        ("e:c", "e:knows", "e:a", "iri"),
        ("e:a", "e:name", "alice", "literal"),
    ])
    fof = match_bgp(q, [("?x", "e:knows", "?y"), ("?y", "e:knows", "?z")])
    got = {(r.x, r.y, r.z) for r in fof.collect()}
    assert ("e:a", "e:b", "e:c") in got and len(got) == 3
    named = match_bgp(q, [("?x", "e:knows", "?y"), ("?x", "e:name", "?n")])
    assert {(r.x, r.n) for r in named.collect()} == {("e:a", "alice")}


def test_constant_subject_and_object(spark):
    q = _quads(spark, [
        ("e:a", "e:p", "v1", "literal"),
        ("e:b", "e:p", "v1", "literal"),
        ("e:a", "e:q", "v2", "literal"),
    ])
    got = {r.s for r in
           match_bgp(q, [("?s", "e:p", "v1")]).collect()}
    assert got == {"e:a", "e:b"}
    preds = {r.p for r in match_bgp(q, [("e:a", "?p", "?v")]).collect()}
    assert preds == {"e:p", "e:q"}


def test_bgp_on_pipeline_output(spark):
    quads = dedup_quads(expand_transcripts(
        tr.transcripts_df(spark, n_convs=25, seed=42, partitions=4))).cache()
    # mentions of entities that have an explicit sameAs assertion
    res = match_bgp(quads, [
        ("?m", VOCAB + "about", "?e"),
        ("?e", OWL_SAMEAS, "?canon"),
        ("?m", RDF_TYPE, VOCAB + "Mention"),
    ])
    rows = res.collect()
    assert rows
    assert all(r.m.startswith(KG + "m/") for r in rows)
    assert all(r.e.startswith(KG + "e/") for r in rows)
    # cross-check one binding against direct filters
    direct = (quads.where((F.col("p") == OWL_SAMEAS)).select("s").distinct())
    with_sameas = {r.s for r in direct.collect()}
    assert {r.e for r in rows} <= with_sameas
    quads.unpersist()


def test_bgp_optional_and_filter(spark):
    """OPTIONAL keeps unmatched rows with NULL bindings; FILTER applies
    after joins (can test bound()-style null checks)."""
    from rdflib_jsonld_spark.operators.bgp import match_bgp_extended
    rows = [
        (None, "http://e/m1", False, "http://e/about", "iri", "http://e/a",
         None, None),
        (None, "http://e/m1", False, "http://e/conf", "literal", "0.9",
         None, None),
        (None, "http://e/m2", False, "http://e/about", "iri", "http://e/b",
         None, None),
    ]
    quads = spark.createDataFrame(
        rows, "g string, s string, s_is_bnode boolean, p string, "
              "o_kind string, o_value string, o_datatype string, "
              "o_lang string")
    out = match_bgp_extended(
        quads,
        [("?m", "http://e/about", "?e")],
        optional=[("?m", "http://e/conf", "?c")],
    ).collect()
    by_m = {r["m"]: (r["e"], r["c"]) for r in out}
    assert by_m["http://e/m1"] == ("http://e/a", "0.9")
    assert by_m["http://e/m2"] == ("http://e/b", None)

    filtered = match_bgp_extended(
        quads, [("?m", "http://e/about", "?e")],
        optional=[("?m", "http://e/conf", "?c")],
        filters=["c IS NOT NULL AND cast(c AS double) > 0.5"]).collect()
    assert len(filtered) == 1 and filtered[0]["m"] == "http://e/m1"

    import pytest as _pytest
    with _pytest.raises(ValueError):
        match_bgp_extended(quads, [("?m", "http://e/about", "?e")],
                           optional=[("?x", "http://e/conf", "?c")])


def test_bgp_union_null_pads_disjoint_vars(spark):
    """UNION combines solution sets; variables unbound in a branch are
    NULL (SPARQL unbound semantics)."""
    from rdflib_jsonld_spark.operators.bgp import match_bgp_extended
    q = _quads(spark, [
        ("e:m1", "e:about", "e:a", "iri"),
        ("e:a", "e:sameAs", "e:canon", "iri"),
        ("e:m2", "e:label", "two", "literal"),
    ])
    # same vars in both branches → plain set union
    out = match_bgp_extended(q, [("?s", "e:about", "?o")],
                             union=[[("?s", "e:sameAs", "?o")]])
    got = {(r.s, r.o) for r in out.collect()}
    assert got == {("e:m1", "e:a"), ("e:a", "e:canon")}
    # branch-private variable → NULL-padded in the other branch's rows
    out2 = match_bgp_extended(q, [("?s", "e:about", "?o")],
                              union=[[("?s", "e:label", "?lbl")]])
    rows = {(r.s, r.o, r.lbl) for r in out2.collect()}
    assert rows == {("e:m1", "e:a", None), ("e:m2", None, "two")}


def test_bgp_values_inline_bindings(spark):
    """VALUES joins inline bindings on shared vars; unmatched binding
    rows contribute nothing; a no-shared-var VALUES cross-joins."""
    from rdflib_jsonld_spark.operators.bgp import match_bgp_extended
    q = _quads(spark, [
        ("e:m1", "e:about", "e:a", "iri"),
        ("e:m2", "e:about", "e:b", "iri"),
        ("e:m3", "e:about", "e:c", "iri"),
    ])
    out = match_bgp_extended(q, [("?m", "e:about", "?e")],
                             values=(["e"], [("e:a",), ("e:c",), ("e:zz",)]))
    assert {(r.m, r.e) for r in out.collect()} == \
        {("e:m1", "e:a"), ("e:m3", "e:c")}
    # new variable introduced by VALUES with no overlap → cross product
    out2 = match_bgp_extended(q, [("?m", "e:about", "e:a")],
                              values=(["tag"], ["t1", "t2"]))
    assert {(r.m, r.tag) for r in out2.collect()} == \
        {("e:m1", "t1"), ("e:m1", "t2")}


def test_bgp_not_exists_vs_minus(spark):
    """The observable semantic difference between the negation forms:
    with shared vars both anti-join; with NO shared vars NOT EXISTS
    empties the result when the group matches, MINUS removes nothing."""
    from rdflib_jsonld_spark.operators.bgp import match_bgp_extended
    q = _quads(spark, [
        ("e:m1", "e:about", "e:a", "iri"),
        ("e:m2", "e:about", "e:b", "iri"),
        ("e:a", "e:sameAs", "e:canon", "iri"),
    ])
    pat = [("?m", "e:about", "?e")]
    shared = [("?e", "e:sameAs", "?t")]
    ne = match_bgp_extended(q, pat, not_exists=shared)
    mi = match_bgp_extended(q, pat, minus=shared)
    assert {r.m for r in ne.collect()} == {"e:m2"}
    assert {r.m for r in mi.collect()} == {"e:m2"}
    disjoint = [("?x", "e:sameAs", "?y")]  # matches, shares no variable
    ne2 = match_bgp_extended(q, pat, not_exists=disjoint)
    mi2 = match_bgp_extended(q, pat, minus=disjoint)
    assert ne2.count() == 0          # NOT EXISTS: global gate fires
    assert mi2.count() == 2          # MINUS: domain-disjoint → no-op
    # non-matching disjoint group → NOT EXISTS keeps everything
    ne3 = match_bgp_extended(q, pat,
                             not_exists=[("?x", "e:nope", "?y")])
    assert ne3.count() == 2


def test_construct_preserves_term_typing(spark):
    """ADVICE r01: object variables must re-emit with their ORIGINAL
    kind/datatype/lang — an IRI-shaped literal ("mailto:x") stays a
    literal, typed literals keep their datatype, lang tags survive."""
    from rdflib_jsonld_spark.operators.bgp import construct
    rows = [
        (None, "http://e/m1", False, "http://e/note", "literal", "mailto:x",
         "http://www.w3.org/2001/XMLSchema#string", None),
        (None, "http://e/m1", False, "http://e/age", "literal", "42",
         "http://www.w3.org/2001/XMLSchema#integer", None),
        (None, "http://e/m1", False, "http://e/label", "literal", "hi",
         "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "en"),
        (None, "http://e/m1", False, "http://e/link", "iri", "http://e/t",
         None, None),
    ]
    quads = spark.createDataFrame(
        rows, "g string, s string, s_is_bnode boolean, p string, "
              "o_kind string, o_value string, o_datatype string, "
              "o_lang string")
    for pred in ("note", "age", "label", "link"):
        out = construct(
            quads,
            where=[("?m", f"http://e/{pred}", "?v")],
            template=[("?m", f"http://e/out_{pred}", "?v")],
        ).collect()
        assert len(out) == 1
        src = next(r for r in rows if r[3] == f"http://e/{pred}")
        got = out[0]
        assert (got["o_kind"], got["o_value"], got["o_datatype"],
                got["o_lang"]) == (src[4], src[5], src[6], src[7]), pred


def test_construct_optional_rebind_falls_back_to_shape(spark):
    """r02 review regression: a variable bound as a required SUBJECT but
    re-bound in OBJECT position by an unmatched OPTIONAL has NULL
    companion typing — CONSTRUCT must fall back to shape classification
    (iri/bnode), never emit o_kind NULL."""
    from rdflib_jsonld_spark.operators.bgp import construct
    rows = [
        (None, "http://e/m1", False, "http://e/about", "iri", "http://e/a",
         None, None),
        (None, "http://e/s2", False, "http://e/q", "iri", "http://e/m1",
         None, None),
        (None, "http://e/m2", False, "http://e/about", "iri", "http://e/a",
         None, None),
    ]
    quads = spark.createDataFrame(
        rows, "g string, s string, s_is_bnode boolean, p string, "
              "o_kind string, o_value string, o_datatype string, "
              "o_lang string")
    out = construct(
        quads,
        where=[("?m", "http://e/about", "?e")],
        optional=[("?s2", "http://e/q", "?m")],  # rebinds ?m as object
        template=[("http://e/agg", "http://e/saw", "?m")],
    ).collect()
    kinds = {r["o_value"]: r["o_kind"] for r in out}
    # m2's optional missed → companion NULL → shape fallback says iri
    assert kinds == {"http://e/m1": "iri", "http://e/m2": "iri"}


def test_join_order_heuristic(spark):
    """Most-constant pattern leads; predicate stats break ties; the order
    stays connectivity-aware (no accidental cross join); results are
    identical with and without optimization."""
    from rdflib_jsonld_spark.operators.bgp import (
        _order_patterns, collect_predicate_stats, match_bgp)
    pats = [
        ("?m", "e:about", "?e"),            # 1 const
        ("?m", "e:type", "e:Mention"),      # 2 consts → leads
        ("?e", "e:sameAs", "?c"),           # 1 const, connects via ?e
    ]
    assert _order_patterns(pats, None)[0] == 1
    # stats tie-break between two 1-const patterns: rarer predicate first
    stats = {"e:about": 1000, "e:sameAs": 10, "e:type": 500}
    order = _order_patterns(pats, stats)
    assert order[0] == 1
    # after pattern 1 (binds ?m), only pattern 0 connects — pattern 2 must
    # NOT jump ahead despite its rarer predicate (cross-join avoidance)
    assert order[1] == 0 and order[2] == 2
    q = _quads(spark, [
        ("e:m1", "e:type", "e:Mention", "iri"),
        ("e:m1", "e:about", "e:a", "iri"),
        ("e:a", "e:sameAs", "e:canon", "iri"),
    ])
    r_opt = {tuple(r) for r in match_bgp(q, pats, optimize=True,
                                         stats=stats).collect()}
    r_raw = {tuple(r) for r in match_bgp(q, pats, optimize=False).collect()}
    assert r_opt == r_raw == {("e:canon", "e:a", "e:m1")}
    assert collect_predicate_stats(q) == {
        "e:type": 1, "e:about": 1, "e:sameAs": 1}


def test_construct_emits_new_graph(spark):
    """CONSTRUCT: solutions instantiate template triples into a fresh
    deduplicated quad table; NULL bindings drop the row."""
    from rdflib_jsonld_spark.operators.bgp import construct
    rows = [
        (None, "http://e/m1", False, "http://e/about", "iri", "http://e/a",
         None, None),
        (None, "http://e/m2", False, "http://e/about", "iri", "http://e/a",
         None, None),
        (None, "http://e/m2", False, "http://e/conf", "literal", "0.9",
         None, None),
    ]
    quads = spark.createDataFrame(
        rows, "g string, s string, s_is_bnode boolean, p string, "
              "o_kind string, o_value string, o_datatype string, "
              "o_lang string")
    out = construct(
        quads,
        where=[("?m", "http://e/about", "?e")],
        optional=[("?m", "http://e/conf", "?c")],
        template=[("?e", "http://e/mentionedBy", "?m"),
                  ("?e", "http://e/score", "?c"),
                  ("?e", "http://e/kind", "entity")],
    ).collect()
    got = {(r["s"], r["p"], r["o_value"], r["o_kind"]) for r in out}
    assert ("http://e/a", "http://e/mentionedBy", "http://e/m1",
            "iri") in got
    assert ("http://e/a", "http://e/mentionedBy", "http://e/m2",
            "iri") in got
    # optional c bound only for m2 → exactly one score triple
    assert sum(1 for t in got if t[1] == "http://e/score") == 1
    # constant object 'entity' is literal-typed; template dedups
    assert ("http://e/a", "http://e/kind", "entity", "literal") in got
    assert len([t for t in got if t[1] == "http://e/kind"]) == 1


def test_bgp_extensions_vs_reference_evaluator(spark):
    """Differential robustness: on random small graphs, the Spark BGP
    surface (conjunction, UNION, OPTIONAL-free negations) must agree
    with an independent naive SPARQL-algebra evaluator written directly
    from the spec (join of bindings / set union / anti-compatibility)."""
    import random

    def naive_match(rows, patterns):
        sols = [dict()]
        for (s, p, o) in patterns:
            new = []
            for b in sols:
                for (rs, rp, ro) in rows:
                    b2 = dict(b)
                    ok = True
                    for pos, val in (((s), rs), ((p), rp), ((o), ro)):
                        if pos.startswith("?"):
                            v = pos[1:]
                            if b2.get(v, val) != val:
                                ok = False
                                break
                            b2[v] = val
                        elif pos != val:
                            ok = False
                            break
                    if ok:
                        new.append(b2)
            sols = new
        return sols

    def as_set(sols, var_order):
        return {tuple(b.get(v) for v in var_order) for b in sols}

    rng = random.Random(7)
    preds = ["e:p", "e:q", "e:r"]
    nodes = [f"e:n{i}" for i in range(6)]
    for trial in range(6):
        rows = sorted({(rng.choice(nodes), rng.choice(preds),
                        rng.choice(nodes)) for _ in range(14)})
        q = _quads(spark, [(s, p, o, "iri") for s, p, o in rows])
        pat = [("?x", rng.choice(preds), "?y")]
        alt = [("?x", rng.choice(preds), "?y")]
        neg = [("?y", rng.choice(preds), "?z")]

        # conjunction + second hop
        two = pat + [("?y", rng.choice(preds), "?z")]
        got = {(r.x, r.y, r.z) for r in match_bgp(q, two).collect()}
        want = as_set(naive_match(rows, two), ["x", "y", "z"])
        assert got == want, (trial, "conj")

        from rdflib_jsonld_spark.operators.bgp import match_bgp_extended
        # UNION
        got = {(r.x, r.y) for r in
               match_bgp_extended(q, pat, union=[alt]).collect()}
        want = as_set(naive_match(rows, pat), ["x", "y"]) \
            | as_set(naive_match(rows, alt), ["x", "y"])
        assert got == want, (trial, "union")

        # NOT EXISTS: drop solutions where the substituted group matches
        base = naive_match(rows, pat)
        neg_sols = naive_match(rows, neg)
        neg_ys = {b["y"] for b in neg_sols}
        want = {(b["x"], b["y"]) for b in base if b["y"] not in neg_ys}
        got = {(r.x, r.y) for r in
               match_bgp_extended(q, pat, not_exists=neg).collect()}
        assert got == want, (trial, "not_exists")

        # MINUS with shared var y: same as anti on y; with disjoint
        # group: no-op
        got = {(r.x, r.y) for r in
               match_bgp_extended(q, pat, minus=neg).collect()}
        assert got == want, (trial, "minus-shared")
        got = {(r.x, r.y) for r in
               match_bgp_extended(
                   q, pat, minus=[("?a", rng.choice(preds), "?b")])
               .collect()}
        assert got == {(b["x"], b["y"]) for b in base}, (trial, "minus-dis")


def test_bgp_graph_scoping(spark):
    """SPARQL GRAPH clause: constant scopes to one named graph; a
    variable binds graph names (named graphs only) and forces pattern
    co-occurrence within a single graph; default (None) keeps the
    rdflib ConjunctiveGraph any-graph semantics."""
    from rdflib_jsonld_spark.operators.bgp import (
        match_bgp, match_bgp_extended)
    rows = [
        ("e:g1", "e:a", "e:p", "v1"),
        ("e:g1", "e:a", "e:q", "w1"),
        ("e:g2", "e:a", "e:p", "v2"),
        ("e:g2", "e:b", "e:q", "w2"),
        (None,   "e:a", "e:p", "v0"),
    ]
    q = spark.createDataFrame(
        [(g, s, False, p, "literal", o, None, None) for g, s, p, o in rows],
        "g string, s string, s_is_bnode boolean, p string, o_kind string, "
        "o_value string, o_datatype string, o_lang string")
    # any-graph default
    got = {r.v for r in match_bgp(q, [("e:a", "e:p", "?v")]).collect()}
    assert got == {"v0", "v1", "v2"}
    # constant graph
    got = {r.v for r in match_bgp(q, [("e:a", "e:p", "?v")],
                                  graph="e:g1").collect()}
    assert got == {"v1"}
    # graph variable: binds names, excludes the default graph
    got = {(r.gr, r.v) for r in
           match_bgp(q, [("e:a", "e:p", "?v")], graph="?gr").collect()}
    assert got == {("e:g1", "v1"), ("e:g2", "v2")}
    # co-occurrence: both patterns must hold in the SAME graph
    got = {(r.gr, r.v, r.w) for r in match_bgp(
        q, [("e:a", "e:p", "?v"), ("?s2", "e:q", "?w")],
        graph="?gr").collect()}
    assert got == {("e:g1", "v1", "w1"), ("e:g2", "v2", "w2")}
    # GRAPH scope threads through the extended surface (negation here)
    got = {r.v for r in match_bgp_extended(
        q, [("e:a", "e:p", "?v")],
        not_exists=[("e:b", "e:q", "?z")], graph="e:g1").collect()}
    assert got == {"v1"}  # e:b/e:q exists only in g2 → not in scope


def test_bgp_constants_push_down_to_parquet_scan(spark, tmp_path):
    """Scale evidence: a BGP pattern's constants must reach the parquet
    scan as PushedFilters (predicate pushdown through the projection),
    and the scan must prune to the referenced columns only."""
    q = _quads(spark, [
        ("e:m1", "e:about", "e:a", "iri"),
        ("e:m1", "e:type", "e:Mention", "iri"),
        ("e:m2", "e:about", "e:b", "iri"),
    ])
    path = str(tmp_path / "quads.parquet")
    q.write.parquet(path)
    stored = spark.read.parquet(path)
    out = match_bgp(stored, [("?m", "e:about", "?e")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "EqualTo(p,e:about)" in plan.replace("`", ""), plan[:2000]
    # column pruning: the scan schema must not read o_datatype/o_lang
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "o_datatype" not in scan[0] and "o_lang" not in scan[0]


# --- term-exact group algebra on the kwargs surface -------------------------

def _term_quads(spark, rows):
    """Quads from (s, p, o_kind, o_value, o_lang) rows, default graph."""
    return spark.createDataFrame(
        [(None, s, s.startswith("_:"), p, k, v, None, lang, "c", 0)
         for s, p, k, v, lang in rows], schema=QUAD_SCHEMA)


def test_optional_never_joins_a_literal_to_an_iri(spark):
    """?s p ?o OPTIONAL { ?o q ?w }: ?o is the literal "http://x/z", and
    a literal is never a subject, so <http://x/z> q <w> must not bind
    ?w (terms join as terms, [spec] §18.3)."""
    from rdflib_jsonld_spark.operators.bgp import match_bgp_extended
    q = _term_quads(spark, [
        ("http://x/s", "http://x/p", "literal", "http://x/z", None),
        ("http://x/z", "http://x/q", "iri", "http://x/w", None),
    ])
    out = match_bgp_extended(q, [("?s", "http://x/p", "?o")],
                             optional=[("?o", "http://x/q", "?w")])
    assert [tuple(r) for r in out.collect()] == [
        ("http://x/z", "http://x/s", None)]


def test_negation_compares_terms_not_text(spark):
    """?o = "v"@en is not the plain "v" of { ?t r ?o }: both FILTER NOT
    EXISTS and MINUS keep the row."""
    from rdflib_jsonld_spark.operators.bgp import match_bgp_extended
    q = _term_quads(spark, [
        ("http://x/s", "http://x/p", "literal", "v", "en"),
        ("http://x/t", "http://x/r", "literal", "v", None),
    ])
    pat = [("?s", "http://x/p", "?o")]
    neg = [("?t", "http://x/r", "?o")]
    for kw in ("not_exists", "minus"):
        out = match_bgp_extended(q, pat, **{kw: neg}, with_types=True)
        assert [(r["s"], r["o"], r["__typ_o__lang"])
                for r in out.collect()] == [
            ("http://x/s", "v", "en")], kw


def test_union_then_optional_binds_the_unbound_branch_var(spark):
    """{?x name ?n} UNION {?y age ?n} OPTIONAL {?k knows ?x}: in the
    second branch ?x is unbound, which is compatible with any value, so
    the OPTIONAL binds ?x = d, ?k = k there."""
    from rdflib_jsonld_spark.operators.bgp import match_bgp_extended
    q = _quads(spark, [
        ("e:a", "e:name", "alice", "literal"),
        ("e:b", "e:age", "30", "literal"),
        ("e:k", "e:knows", "e:d", "iri"),
    ])
    out = match_bgp_extended(q, [("?x", "e:name", "?n")],
                             union=[[("?y", "e:age", "?n")]],
                             optional=[("?k", "e:knows", "?x")])
    assert out.columns == ["k", "n", "x", "y"]
    assert {tuple(r) for r in out.collect()} == {
        (None, "alice", "e:a", None), ("e:k", "30", "e:d", "e:b")}


def _random_group_case(rng):
    """One random graph and kwargs query over a term pool that mixes
    IRIs, plain literals, @en literals and literals spelled like IRIs,
    plus the same query as naive-evaluator algebra."""
    X = "http://x/"
    iris = [("iri", X + n) for n in ("n0", "n1", "n2")]
    lits = [("lit", "v", None, None), ("lit", "v", None, "en"),
            ("lit", X + "n1", None, None), ("lit", "w", None, "en")]
    preds = [X + "p", X + "q"]
    quads = sorted({(None, rng.choice(iris), ("iri", rng.choice(preds)),
                     rng.choice(iris + lits))
                    for _ in range(rng.randint(6, 12))}, key=repr)

    def term(t):          # naive term → kwargs cell / constant
        if t[0] == "iri":
            return t[1]
        return encode_literal(t[1], lang=t[3])

    def var(n):
        return ("var", n)

    def kw_pat(s, p, o):
        return tuple(x if isinstance(x, str) else "?" + x[1]
                     for x in (s, p, o))

    def bgp(*pats):
        return ("bgp", [tuple(x if isinstance(x, tuple) else ("iri", x)
                              for x in t) for t in pats])

    base = [(var("x"), rng.choice(preds), var("y"))]
    kwargs = {}
    algebra = bgp(*base)
    feats = rng.sample(["union", "optional", "values", "not_exists",
                        "minus"], rng.randint(1, 3))
    if "union" in feats:
        alt = [(var("z"), rng.choice(preds), var("y"))]
        kwargs["union"] = [[kw_pat(*t) for t in alt]]
        algebra = ("union", algebra, bgp(*alt))
    if "optional" in feats:
        # joins on ?y (maybe a literal) or on ?x (unbound in UNION's
        # second branch)
        opt = rng.choice([(var("y"), rng.choice(preds), var("w")),
                          (var("w"), rng.choice(preds), var("x"))])
        kwargs["optional"] = [kw_pat(*opt)]
        algebra = ("optional", algebra, bgp(opt))
    if "values" in feats:
        rows = [(rng.choice(iris + lits + [None]),) for _ in range(3)]
        kwargs["values"] = (["y"], [tuple(None if c is None else term(c)
                                          for c in r) for r in rows])
        algebra = ("values", ["y"], rows, algebra)
    neg = [rng.choice([(var("t"), rng.choice(preds), var("y")),
                       (var("y"), rng.choice(preds), var("t"))])]
    if "minus" in feats:
        kwargs["minus"] = [kw_pat(*t) for t in neg]
        algebra = ("minus", algebra, bgp(*neg))
    if "not_exists" in feats:
        kwargs["not_exists"] = [kw_pat(*t) for t in neg]
        algebra = ("filter", ("exists", False, bgp(*neg)), algebra)
    return quads, [kw_pat(*t) for t in base], kwargs, algebra


def _canon(t):
    """Term identity key: lang lowercased, xsd:string ≡ plain."""
    if t is None or t[0] != "lit":
        return t
    lang = t[3].lower() if t[3] else None
    dt = None if lang or t[2] == XSD_STRING else t[2]
    return ("lit", t[1], dt, lang)


def test_group_algebra_vs_naive_evaluator_mixed_terms(spark):
    """Randomized differential of match_bgp_extended against the naive
    spec evaluator (tests/naive_sparql.py): OPTIONAL, UNION, VALUES,
    NOT EXISTS and MINUS over objects that mix IRIs, plain literals,
    @en literals and literals spelled like IRIs, compared as bags of
    exact terms."""
    import random
    from collections import Counter

    from naive_sparql import Evaluator
    from rdflib_jsonld_spark.operators.bgp import match_bgp_extended

    for seed in range(24):
        quads, base, kwargs, algebra = _random_group_case(
            random.Random(seed))
        df = _term_quads(spark, [
            (s[1], p[1], "iri" if o[0] == "iri" else "literal", o[1],
             o[3] if o[0] == "lit" else None) for _, s, p, o in quads])
        out = match_bgp_extended(df, base, distinct=False, with_types=True,
                                 **kwargs)
        names = [c for c in out.columns if not c.startswith("__typ_")]
        got = Counter()
        for r in out.collect():
            row = []
            for n in names:
                kind = r[f"__typ_{n}__kind"] \
                    if f"__typ_{n}__kind" in out.columns else None
                if r[n] is None:
                    row.append(None)
                elif kind == "literal":
                    row.append(_canon(("lit", r[n], r[f"__typ_{n}__datatype"],
                                       r[f"__typ_{n}__lang"])))
                else:
                    row.append(("iri", r[n]))
            got[tuple(row)] += 1
        want = Counter(tuple(_canon(sol.get(n)) for n in names)
                       for sol in Evaluator(quads).eval(algebra))
        assert got == want, (seed, kwargs, quads)


def test_group_algebra_lives_only_in_the_sparql_evaluator():
    """OPTIONAL / UNION / VALUES / negation are evaluated once, by
    sparql._eval_group: the kwargs surface (bgp.py, solutions.py) runs
    no outer, semi or anti join of its own."""
    import pathlib
    import re
    ops = (pathlib.Path(__file__).resolve().parents[1]
           / "rdflib_jsonld_spark" / "operators")
    join_kind = re.compile(
        r"""left_?anti|left_?semi|["']left(_?outer)?["']""", re.I)
    for name in ("bgp.py", "solutions.py"):
        hits = [ln for ln in (ops / name).read_text().splitlines()
                if join_kind.search(ln)]
        assert not hits, (name, hits)


def test_pattern_terms_are_walked_only_by_the_walker():
    """Pattern, template and DATA terms are traversed by bgp.leaves /
    bgp.map_leaves, which descend into quoted triples ("qt", s, p, o);
    no module loops over a triple's positions by hand (such loops
    skipped or misread quoted-triple terms)."""
    import pathlib
    import re
    ops = (pathlib.Path(__file__).resolve().parents[1]
           / "rdflib_jsonld_spark" / "operators")
    per_site = re.compile(
        r"for \w+ in \(\s*[spo]\s*(,\s*[spo]\s*)+\)"   # for pos in (s, o)
        r"|for \w+ in (t|pat|term|triple)(\[1:\])?\s*:"   # for pos in t:
        r"|isinstance\((pos|inner), str\)")
    for name in ("sparql.py", "update.py", "bgp.py", "star.py", "paths.py"):
        text = (ops / name).read_text()
        hits = [ln for ln in text.splitlines() if per_site.search(ln)]
        assert not hits, (name, hits)
        # one variable test, bgp._is_var
        assert ("def _is_var(" in text) == (name == "bgp.py"), name

