"""Property-path evaluation (operators/paths.py) vs a naive in-memory
SPARQL-path evaluator, plus parser and seeded-evaluation checks."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from rdflib_jsonld_spark.operators.paths import (
    alt, eval_path, eval_path_from, graph_nodes, inv, link, match_path,
    nps, opt, parse_path, plus, seq, star)

QUAD_SCHEMA = ("g string, s string, s_is_bnode boolean, p string, "
               "o_kind string, o_value string, o_datatype string, "
               "o_lang string")


def quads_df(spark, triples, graphs=None):
    rows = []
    for i, (s, p, o) in enumerate(triples):
        g = graphs[i] if graphs else None
        rows.append((g, s, s.startswith("_:"), p,
                     "iri" if o.startswith(("http", "_:")) else "literal",
                     o, None, None))
    return spark.createDataFrame(rows, QUAD_SCHEMA)


# ---------------------------------------------------------------------------
# naive reference evaluator (pure python, set semantics)
# ---------------------------------------------------------------------------

def naive_eval(triples, path):
    nodes = {s for s, _, _ in triples} | {o for _, _, o in triples}
    kind = path[0]
    if kind == "link":
        return {(s, o) for s, p, o in triples if p == path[1]}
    if kind == "nps":
        return {(s, o) for s, p, o in triples if p not in path[1]}
    if kind == "inv":
        return {(o, s) for s, o in naive_eval(triples, path[1])}
    if kind == "seq":
        acc = naive_eval(triples, path[1])
        for part in path[2:]:
            right = naive_eval(triples, part)
            acc = {(a, d) for a, b in acc for c, d in right if b == c}
        return acc
    if kind == "alt":
        out = set()
        for part in path[1:]:
            out |= naive_eval(triples, part)
        return out
    if kind in ("plus", "star", "opt"):
        base = naive_eval(triples, path[1])
        if kind == "opt":
            return base | {(n, n) for n in nodes}
        closure = set(base)
        while True:
            step = {(a, d) for a, b in closure for c, d in base if b == c}
            if step <= closure:
                break
            closure |= step
        if kind == "star":
            closure |= {(n, n) for n in nodes}
        return closure
    raise ValueError(path)


EX = "http://ex.org/"


def T(s, p, o):
    return (EX + s, EX + p, EX + o)


CHAIN = [T("a", "p", "b"), T("b", "p", "c"), T("c", "p", "d"),
         T("b", "q", "x"), T("x", "q", "a"),
         T("d", "r", "lit-is-ok")]


# ---------------------------------------------------------------------------
# full-relation evaluation
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("path", [
    link(EX + "p"),
    inv(link(EX + "p")),
    seq(link(EX + "p"), link(EX + "p")),
    seq(link(EX + "p"), link(EX + "q")),
    alt(link(EX + "p"), link(EX + "q")),
    plus(link(EX + "p")),
    star(link(EX + "p")),
    opt(link(EX + "q")),
    nps([EX + "p", EX + "r"]),
    seq(link(EX + "p"), star(alt(link(EX + "p"), inv(link(EX + "q"))))),
    plus(alt(link(EX + "p"), link(EX + "q"))),
    inv(plus(link(EX + "p"))),
    inv(seq(link(EX + "p"), link(EX + "q"))),
], ids=lambda p: str(p)[:60])
def test_eval_matches_naive(spark, path):
    df = quads_df(spark, CHAIN)
    got = {(r.src, r.dst) for r in eval_path(df, path).collect()}
    assert got == naive_eval(CHAIN, path)


def test_eval_random_graphs_match_naive(spark):
    rng = random.Random(7)
    nodes = [EX + f"n{i}" for i in range(12)]
    preds = [EX + p for p in "pqr"]
    triples = {(rng.choice(nodes), rng.choice(preds), rng.choice(nodes))
               for _ in range(40)}
    triples = sorted(triples)
    df = quads_df(spark, triples)
    paths = [
        plus(link(preds[0])),
        star(alt(link(preds[0]), inv(link(preds[1])))),
        seq(star(link(preds[0])), link(preds[1])),
        seq(nps([preds[2]]), opt(link(preds[2]))),
        inv(star(link(preds[1]))),
    ]
    for path in paths:
        got = {(r.src, r.dst) for r in eval_path(df, path).collect()}
        assert got == naive_eval(triples, path), path


def test_cycle_terminates_and_self_pairs(spark):
    tri = [T("a", "p", "b"), T("b", "p", "a")]
    df = quads_df(spark, tri)
    got = {(r.src, r.dst) for r in eval_path(df, plus(link(EX + "p"))).collect()}
    assert got == naive_eval(tri, plus(link(EX + "p")))
    assert (EX + "a", EX + "a") in got  # cycle self-pair


# ---------------------------------------------------------------------------
# seeded evaluation == full evaluation filtered to the seed
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("path", [
    plus(link(EX + "p")),
    star(link(EX + "p")),
    seq(link(EX + "p"), plus(link(EX + "p"))),
    inv(plus(link(EX + "p"))),          # must not full-materialize
    star(alt(link(EX + "p"), inv(link(EX + "q")))),
    opt(link(EX + "p")),
], ids=lambda p: str(p)[:60])
def test_seeded_matches_full(spark, path):
    df = quads_df(spark, CHAIN)
    for seed in (EX + "a", EX + "b", EX + "nowhere"):
        seeds = spark.createDataFrame([(seed,)], ["src"])
        got = {(r.src, r.dst)
               for r in eval_path_from(df, path, seeds).collect()}
        want = {(s, d) for s, d in naive_eval(CHAIN, path) if s == seed}
        if path[0] in ("star", "opt"):
            # seeded zero-length binds the seed to itself UNCONDITIONALLY
            # ([spec] §18.4 ZeroLengthPath with a constant term; sweep 21)
            want |= {(seed, seed)}
        assert got == want, (path, seed)


def test_seeded_closure_reaches_end_of_long_chain(spark):
    """Seeded ``p+`` runs to its fixpoint: every node of a 30-hop chain
    is reached, the same answer as the unseeded closure (a 20-round cap
    used to stop the seeded loop at 21 nodes)."""
    chain = [T(f"e{i}", "p", f"e{i + 1}") for i in range(30)]
    df = quads_df(spark, chain)
    want = {EX + f"e{i}" for i in range(1, 31)}
    seeded = match_path(df, EX + "e0", plus(link(EX + "p")), "?x")
    assert {r.x for r in seeded.collect()} == want
    full = match_path(df, "?s", plus(link(EX + "p")), "?x") \
        .where(F.col("s") == EX + "e0")
    assert {r.x for r in full.collect()} == want


def test_star_zero_length_constant_is_unconditional(spark):
    """[spec] §18.4 ZeroLengthPath(X, vy) with X constant binds ?y to X
    even when X never occurs in the graph (sweep 21; was restricted to
    graph terms)."""
    df = quads_df(spark, CHAIN)
    seeds = spark.createDataFrame([(EX + "ghost",)], ["src"])
    out = eval_path_from(df, star(link(EX + "p")), seeds).collect()
    assert [(r.src, r.dst) for r in out] == [(EX + "ghost", EX + "ghost")]
    rows = match_path(df, EX + "ghost", star(link(EX + "p")), "?x")
    assert [r.x for r in rows.collect()] == [EX + "ghost"]


# ---------------------------------------------------------------------------
# match_path binding shapes
# ---------------------------------------------------------------------------

def test_match_path_variable_bindings(spark):
    df = quads_df(spark, CHAIN)
    rows = match_path(df, "?x", "<http://ex.org/p>+", "?y")
    got = {(r.x, r.y) for r in rows.collect()}
    assert got == naive_eval(CHAIN, plus(link(EX + "p")))


def test_match_path_constant_subject_and_object(spark):
    df = quads_df(spark, CHAIN)
    ys = {r.y for r in match_path(df, EX + "a", plus(link(EX + "p")),
                                  "?y").collect()}
    assert ys == {EX + "b", EX + "c", EX + "d"}
    xs = {r.x for r in match_path(df, "?x", plus(link(EX + "p")),
                                  EX + "d").collect()}
    assert xs == {EX + "a", EX + "b", EX + "c"}
    ask = match_path(df, EX + "a", plus(link(EX + "p")), EX + "d").collect()
    assert len(ask) == 1
    none = match_path(df, EX + "d", plus(link(EX + "p")), EX + "a").collect()
    assert none == []


def test_match_path_same_var_both_ends(spark):
    tri = [T("a", "p", "b"), T("b", "p", "a"), T("c", "p", "d")]
    df = quads_df(spark, tri)
    got = {r.x for r in match_path(df, "?x", plus(link(EX + "p")),
                                   "?x").collect()}
    assert got == {EX + "a", EX + "b"}


def test_graph_scoping(spark):
    tri = [T("a", "p", "b"), T("b", "p", "c")]
    df = quads_df(spark, tri, graphs=[EX + "g1", EX + "g2"])
    # scoped to g1: only a→b
    got = {(r.src, r.dst)
           for r in eval_path(df, plus(link(EX + "p")), graph=EX + "g1")
           .collect()}
    assert got == {(EX + "a", EX + "b")}
    # any graph (default): both edges compose
    got = {(r.src, r.dst) for r in eval_path(df, plus(link(EX + "p")))
           .collect()}
    assert (EX + "a", EX + "c") in got


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

def test_parse_path_precedence_and_forms():
    p, q, r = "p", "q", "r"
    assert parse_path("p") == link(p)
    assert parse_path("^p") == inv(link(p))
    assert parse_path("p/q") == seq(link(p), link(q))
    assert parse_path("p|q") == alt(link(p), link(q))
    # | binds looser than /
    assert parse_path("p/q|r") == alt(seq(link(p), link(q)), link(r))
    assert parse_path("p/(q|r)") == seq(link(p), alt(link(q), link(r)))
    assert parse_path("p+") == plus(link(p))
    assert parse_path("p*/q?") == seq(star(link(p)), opt(link(q)))
    assert parse_path("(p/q)+") == plus(seq(link(p), link(q)))
    assert parse_path("^p+") == plus(inv(link(p)))  # postfix binds tighter
    assert parse_path("!(p|q)") == nps([p, q])
    assert parse_path("<http://e/x>/<http://e/y>") == \
        seq(link("http://e/x"), link("http://e/y"))
    assert parse_path("about/(sameAs|^sameAs)*") == \
        seq(link("about"),
            star(alt(link("sameAs"), inv(link("sameAs")))))


def test_parse_path_errors():
    # "!p" is no longer here: the paren-less PathOneInPropertySet form
    # is valid grammar ([spec] §9.1, sweep 10)
    for bad in ("", "p/", "(p", "p)q", "p**q/", "!(p", "!(^)"):
        with pytest.raises((ValueError, IndexError)):
            parse_path(bad)


def test_parse_negated_set_inverse_members():
    # [spec] §18.2.2.3: !(f|^r) desugars to alt(NPS(f), inv(NPS(r)))
    # (sweep 10: inverse members were a parse error)
    p, q = "http://e/p", "http://e/q"
    assert parse_path(f"!(<{p}>|^<{q}>)") == \
        alt(nps([p]), inv(nps([q])))
    assert parse_path(f"!^<{q}>") == inv(nps([q]))
    assert parse_path(f"!<{p}>") == nps([p])


def test_eval_negated_inverse_set(spark):
    # a -p-> b, a -q-> c: !(^p) from c follows reversed non-p edges
    df = quads_df(spark, [(EX + "a", EX + "p", EX + "b"),
                          (EX + "a", EX + "q", EX + "c")])
    got = match_path(df, EX + "c", f"!(^<{EX}p>)", "?o").collect()
    assert [r.o for r in got] == [EX + "a"]


def test_graph_nodes_includes_literals(spark):
    df = quads_df(spark, CHAIN)
    nodes = {r.node for r in graph_nodes(df).collect()}
    assert EX + "lit-is-ok" in nodes and EX + "a" in nodes
