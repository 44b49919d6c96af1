"""Sweeps 37-38 — random-query SPARQL differential (dual-engine method).

Generates random SELECT queries (algebra-first, then rendered to SPARQL
text) over random small quad stores, evaluates them through BOTH
engines — the Spark text front-end (operators/sparql.py) and the
spec-derived naive evaluator (tests/naive_sparql.py, a test-only
oracle independent of the engine) — and compares solution multisets
under value canonicalization.

Sweep 38 extends the surface to solution modifiers and nesting:
sub-SELECTs (plain / DISTINCT / aggregating), HAVING (aggregate
comparisons and key expressions), GROUP_CONCAT (engine-documented
sorted concatenation), and ORDER BY / LIMIT / OFFSET — ordered results
are checked per [spec] §15.1: multiset (or exact window, when the key
order is total and no tie straddles a cut) plus sortedness of the
engine's output sequence; implementation-defined pair orders (blank
nodes, value-incomparable literals) are treated as unconstrained,
and such windows degrade to size + subset + sortedness ("okweak").

This is the query-surface analogue of the sweep-36 wild-document
dual-engine fuzz (CLAUDE.md r05 lesson: the highest-yield probe
distribution of the project).  Usage:

    python tools/sparql_fuzz.py [n_examples] [start_seed]

Prints one line per divergence (seed, query, stage) and a final
summary.  Re-run a single seed with REPRO=<seed>.
"""
from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))

from collections import Counter

from naive_sparql import (XSD, Evaluator, ImplDefined, UNDEFINED,
                          is_lit, ord_cmp)

E = "http://e/"

# --- pools -------------------------------------------------------------

IRIS = [E + n for n in ("s1", "s2", "s3", "p", "q", "r", "x")]
PREDS = [E + n for n in ("p", "q", "r")]
GRAPHS = [None, None, None, ("iri", "urn:g1"), ("iri", "urn:g2")]
BNODES = [("bnode", "b1"), ("bnode", "b2")]

# value-distinct literal pool (no two same-value-different-lexical
# entries of one datatype — the comparison canonicalizes by value)
LITS = [
    ("lit", "a", None, None),
    ("lit", "b", None, None),
    ("lit", "A", None, None),
    ("lit", "", None, None),
    ("lit", "a b", None, None),
    ("lit", 'q"\\\n\té', None, None),
    ("lit", "a", None, "en"),
    ("lit", "a", None, "en-GB"),
    ("lit", "b", None, "fr"),
    ("lit", "a", XSD + "string", None),
    ("lit", "5", XSD + "integer", None),
    ("lit", "-3", XSD + "integer", None),
    ("lit", "0", XSD + "integer", None),
    ("lit", "2.5", XSD + "decimal", None),
    ("lit", "1e0", XSD + "double", None),
    ("lit", "x", XSD + "integer", None),       # ill-formed numeric
    ("lit", "", XSD + "double", None),         # ill-formed numeric
    ("lit", "true", XSD + "boolean", None),
    ("lit", "false", XSD + "boolean", None),
    ("lit", "v", E + "dt", None),              # unknown datatype
]
STR_CONSTS = [t for t in LITS if t[2] in (None, XSD + "string")
              and t[3] is None]
NUM_CONSTS = [("lit", "1", XSD + "integer", None),
              ("lit", "2", XSD + "integer", None),
              ("lit", "-1", XSD + "integer", None),
              ("lit", "0.5", XSD + "decimal", None),
              ("lit", "2e0", XSD + "double", None),
              ("lit", "0", XSD + "integer", None)]
LANG_RANGES = ["*", "en", "en-gb", "fr", "de"]
REGEX_PATS = ["a", "^a", "b$", "[0-9]+", "", "a.b", "A|b"]
REGEX_FLAGS = ["", "i", "s", "im", "q"]        # 'q' is invalid → error
VARS = ["a", "b", "c", "d", "e", "f"]

FNS1 = ["STR", "LANG", "DATATYPE", "ISIRI", "ISBLANK", "ISLITERAL",
        "ISNUMERIC", "STRLEN", "UCASE", "LCASE", "ENCODE_FOR_URI",
        "ABS", "CEIL", "FLOOR", "ROUND", "MD5", "SHA1", "SHA256"]
FNS2 = ["CONTAINS", "STRSTARTS", "STRENDS", "STRBEFORE", "STRAFTER",
        "SAMETERM", "LANGMATCHES", "STRDT", "STRLANG"]


def gen_term(rng, kinds="isbl"):
    """i=IRI s=subject-ish b=bnode l=literal."""
    c = rng.choice(kinds)
    if c == "i":
        return ("iri", rng.choice(IRIS))
    if c == "b":
        return rng.choice(BNODES)
    return rng.choice(LITS)


def gen_quads(rng):
    n = rng.randint(3, 14)
    quads = []
    for _ in range(n):
        g = rng.choice(GRAPHS)
        s = gen_term(rng, "iib")
        p = ("iri", rng.choice(PREDS))
        o = gen_term(rng, "iblll")
        quads.append((g, s, p, o))
    # distinct rows: the engine's quad table and the oracle list must
    # hold the same multiset, and duplicate quads in one graph are not
    # a state a dedup'd store exhibits
    seen, out = set(), []
    for q in quads:
        k = repr(q)
        if k not in seen:
            seen.add(k)
            out.append(q)
    return out


# --- expression generator ----------------------------------------------

def gen_expr(rng, scope, depth=0, want="any"):
    """want: 'any' | 'str' | 'num' — a light bias so function arguments
    are plausibly typed often enough to exercise success paths too."""
    if depth > 2 or rng.random() < 0.35:
        r = rng.random()
        if scope and r < 0.55:
            return ("var", rng.choice(sorted(scope)))
        if want == "num" or (want == "any" and r < 0.75):
            return ("lit", rng.choice(NUM_CONSTS))
        if want == "str":
            return ("lit", rng.choice(STR_CONSTS))
        return ("lit", rng.choice(LITS + [("iri", rng.choice(IRIS))]))
    r = rng.random()
    if r < 0.25:
        op = rng.choice(["=", "!=", "<", "<=", ">", ">="])
        return ("op", op, gen_expr(rng, scope, depth + 1),
                gen_expr(rng, scope, depth + 1))
    if r < 0.38:
        op = rng.choice(["&&", "||"])
        return ("op", op, gen_expr(rng, scope, depth + 1),
                gen_expr(rng, scope, depth + 1))
    if r < 0.44:
        return ("op", "!", gen_expr(rng, scope, depth + 1))
    if r < 0.56:
        op = rng.choice(["+", "-", "*", "/"])
        return ("op", op, gen_expr(rng, scope, depth + 1, "num"),
                gen_expr(rng, scope, depth + 1, "num"))
    if r < 0.60 and scope:
        return ("fn", "BOUND", ("var", rng.choice(sorted(scope))))
    if r < 0.66:
        return ("fn", "IF", gen_expr(rng, scope, depth + 1),
                gen_expr(rng, scope, depth + 1),
                gen_expr(rng, scope, depth + 1))
    if r < 0.70:
        n = rng.randint(2, 3)
        return ("fn", "COALESCE",
                *[gen_expr(rng, scope, depth + 1) for _ in range(n)])
    if r < 0.78:
        fn = rng.choice(FNS2)
        if fn == "LANGMATCHES":
            return ("fn", fn,
                    ("fn", "LANG", gen_expr(rng, scope, depth + 1)),
                    ("lit", ("lit", rng.choice(LANG_RANGES),
                             None, None)))
        if fn == "STRDT":
            return ("fn", fn, gen_expr(rng, scope, depth + 1, "str"),
                    ("lit", ("iri", rng.choice(IRIS))))
        return ("fn", fn, gen_expr(rng, scope, depth + 1, "str"),
                gen_expr(rng, scope, depth + 1, "str"))
    if r < 0.82:
        pat = ("lit", ("lit", rng.choice(REGEX_PATS), None, None))
        args = [gen_expr(rng, scope, depth + 1, "str"), pat]
        if rng.random() < 0.5:
            args.append(("lit", ("lit", rng.choice(REGEX_FLAGS),
                                 None, None)))
        return ("fn", "REGEX", *args)
    if r < 0.86:
        args = [gen_expr(rng, scope, depth + 1, "str"),
                ("lit", rng.choice(NUM_CONSTS))]
        if rng.random() < 0.5:
            args.append(("lit", rng.choice(NUM_CONSTS)))
        return ("fn", "SUBSTR", *args)
    if r < 0.90:
        n = rng.randint(2, 3)
        return ("fn", "CONCAT",
                *[gen_expr(rng, scope, depth + 1, "str")
                  for _ in range(n)])
    fn = rng.choice(FNS1)
    return ("fn", fn, gen_expr(rng, scope, depth + 1,
                               "num" if fn in ("ABS", "CEIL", "FLOOR",
                                               "ROUND") else "any"))


# --- algebra generator ---------------------------------------------------

def gen_path(rng, depth=0):
    """Random property-path AST ([spec] §9): link / ^ / seq / alt /
    * + ? / negated property sets with mixed members."""
    if depth >= 2 or rng.random() < 0.45:
        if rng.random() < 0.15:
            fwd = rng.sample(PREDS, rng.randint(0, 2))
            rev = rng.sample(PREDS, rng.randint(0, 1)) \
                if rng.random() < 0.5 else []
            if not fwd and not rev:
                fwd = [rng.choice(PREDS)]
            return ("npsx", fwd, rev)
        p = ("link", rng.choice(PREDS))
        return ("inv", p) if rng.random() < 0.25 else p
    r = rng.random()
    a = gen_path(rng, depth + 1)
    if r < 0.3:
        return ("seq", a, gen_path(rng, depth + 1))
    if r < 0.55:
        return ("alt", a, gen_path(rng, depth + 1))
    if r < 0.7:
        return ("zom", a)
    if r < 0.85:
        return ("oom", a)
    if r < 0.95:
        return ("zoo", a)
    return ("inv", a)


def r_path(p):
    k = p[0]
    if k == "link":
        return f"<{p[1]}>"
    if k == "inv":
        return f"(^{r_path(p[1])})"
    if k == "seq":
        return "(" + "/".join(r_path(x) for x in p[1:]) + ")"
    if k == "alt":
        return "(" + "|".join(r_path(x) for x in p[1:]) + ")"
    if k == "zom":
        return f"({r_path(p[1])}*)"
    if k == "oom":
        return f"({r_path(p[1])}+)"
    if k == "zoo":
        return f"({r_path(p[1])}?)"
    if k == "npsx":
        members = [f"<{i}>" for i in p[1]] + [f"^<{i}>" for i in p[2]]
        return "!(" + "|".join(members) + ")"
    raise AssertionError(p)


def gen_bgp(rng, scope):
    n = rng.randint(1, 3)
    triples = []
    for _ in range(n):
        def pos(kinds, var_p):
            if rng.random() < var_p:
                v = rng.choice(VARS)
                scope.add(v)
                return ("var", v)
            return gen_term(rng, kinds)
        s = pos("ii", 0.7)
        p = pos("i", 0.35)
        if p[0] != "var":
            if rng.random() < 0.3:
                p = gen_path(rng)
                # a bare link would RENDER as a plain predicate, which
                # the engine evaluates bag-semantics while the path
                # walk is distinct — only emit real path shapes
                while p[0] == "link":
                    p = gen_path(rng)
            else:
                p = ("iri", rng.choice(PREDS))
        o = pos("illl", 0.6)
        triples.append((s, p, o))
    return ("bgp", triples)


def gen_algebra(rng, depth=0):
    """Returns (node, scope) — scope = vars the node may bind."""
    if depth >= 2 or rng.random() < 0.42:
        scope = set()
        node = gen_bgp(rng, scope)
        return node, scope
    r = rng.random()
    a, sa = gen_algebra(rng, depth + 1)
    if r < 0.14:
        b, sb = gen_algebra(rng, depth + 1)
        return ("join", a, b), sa | sb
    if r < 0.32:
        b, sb = gen_algebra(rng, depth + 1)
        if rng.random() < 0.4:
            cond = gen_expr(rng, sa | sb)
            return ("optional", a, b, cond), sa | sb
        return ("optional", a, b), sa | sb
    if r < 0.46:
        b, sb = gen_algebra(rng, depth + 1)
        return ("union", a, b), sa | sb
    if r < 0.58:
        b, _sb = gen_algebra(rng, depth + 1)
        return ("minus", a, b), sa
    if r < 0.74:
        if rng.random() < 0.2:
            scope2 = set(sa)
            body = gen_bgp(rng, scope2)
            cond = ("exists", rng.random() < 0.5, body)
        else:
            cond = gen_expr(rng, sa)
        return ("filter", cond, a), sa
    if r < 0.86:
        fresh = [v for v in VARS if v not in sa]
        if not fresh:
            return a, sa
        v = rng.choice(fresh)
        return ("bind", gen_expr(rng, sa), v, a), sa | {v}
    if r < 0.90:
        names = rng.sample(VARS, rng.randint(1, 2))
        rows = []
        for _ in range(rng.randint(1, 3)):
            rows.append(tuple(
                None if rng.random() < 0.25
                else gen_term(rng, "ill") for _ in names))
        return ("values", names, rows, a), sa | set(names)
    if r < 0.97:
        # sub-SELECT: project a subset of the inner scope, sometimes
        # DISTINCT, sometimes an aggregate — only the projected vars
        # join the enclosing group ([spec] §18.2.2.9)
        inner, iscope = gen_algebra(rng, depth + 1)
        iscope = sorted(iscope)
        if not iscope:
            return inner, set()
        if rng.random() < 0.3:
            keys = rng.sample(iscope, rng.randint(0, min(1, len(iscope))))
            alias = rng.choice([v for v in VARS if v not in keys])
            fn = rng.choice(AGG_FNS)
            expr = None if fn == "COUNT" and rng.random() < 0.4 \
                else ("var", rng.choice(iscope))
            spec = (fn, rng.random() < 0.3, expr)
            if fn == "GROUP_CONCAT":
                spec = spec + ("#",)
            sub = {"where": inner,
                   "project": [("var", k) for k in keys]
                   + [("agg", alias)],
                   "group": (keys, {alias: spec}), "distinct": False}
            return ("subselect", sub), set(keys) | {alias}
        pvars = rng.sample(iscope, rng.randint(1, len(iscope)))
        sub = {"where": inner, "project": [("var", v) for v in pvars],
               "group": None, "distinct": rng.random() < 0.4}
        return ("subselect", sub), set(pvars)
    if rng.random() < 0.4:
        # a GRAPH var that is also a BIND target inside the group is
        # spec-murky (Extend over a var the graph clause already
        # binds) — the engine rejects it loudly; don't generate it
        def bind_targets(n):
            if not isinstance(n, tuple):
                return set()
            out = {n[2]} if n[0] == "bind" else set()
            for x in n[1:]:
                out |= bind_targets(x)
            return out
        pool = [v for v in VARS if v not in bind_targets(a)]
        if pool:
            v = rng.choice(pool)
            return ("graph", ("var", v), a), sa | {v}
    tgt = rng.choice([g for g in GRAPHS if g])
    return ("graph", tgt, a), sa


AGG_FNS = ["COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT"]
REL_OPS = ["=", "!=", "<", "<=", ">", ">="]


def _gen_modifiers(rng, q, proj_names):
    """ORDER BY / LIMIT / OFFSET over PROJECTED names only (the
    differential recomputes sort keys from the engine's output rows;
    unprojected order vars are pinned by the golden corpus)."""
    order = None
    if proj_names and rng.random() < 0.45:
        order = []
        for _ in range(rng.randint(1, 2)):
            d = rng.choice(["asc", "desc"])
            if rng.random() < 0.18:
                order.append((("expr",
                               gen_expr(rng, set(proj_names))), d))
            else:
                order.append((("var", rng.choice(proj_names)), d))
    q["order"] = order
    q["limit"] = rng.randint(0, 5) if rng.random() < 0.35 else None
    q["offset"] = rng.randint(1, 3) if rng.random() < 0.2 else None


def _gen_agg_spec(rng, i, scope):
    fn = rng.choice(AGG_FNS)
    distinct = rng.random() < 0.3
    if fn == "GROUP_CONCAT":
        # plain-var argument only: the engine concatenates the CAST
        # string of the solution column; a computed argument's string
        # form is Spark-dtype-dependent (double "6.0" vs integer "6")
        return (fn, distinct, ("var", rng.choice(scope)), "#")
    if fn == "COUNT" and rng.random() < 0.3:
        expr = None
    elif rng.random() < 0.8 or not scope:
        expr = ("var", rng.choice(scope))
    else:
        expr = ("op", rng.choice("+-*"),
                ("var", rng.choice(scope)),
                ("lit", rng.choice(NUM_CONSTS)))
    return (fn, distinct, expr)


def gen_construct_template(rng, scope):
    """CONSTRUCT template triples over scope vars + constants (no
    bnode labels — fresh-bnode minting defeats set comparison)."""
    trips = []
    for _ in range(rng.randint(1, 3)):
        def pos(kinds, var_p):
            if scope and rng.random() < var_p:
                return ("var", rng.choice(scope))
            return gen_term(rng, kinds)
        s = pos("ii", 0.6)
        p = pos("i", 0.3)
        if p[0] not in ("var", "iri"):
            p = ("iri", rng.choice(PREDS))
        o = pos("illl", 0.6)
        trips.append((s, p, o))
    return trips


def gen_query(rng):
    """Returns a query dict (see r_query for the rendered shape)."""
    where, scope = gen_algebra(rng)
    scope = sorted(scope)
    form = rng.random()
    if form < 0.08:
        return {"form": "ask", "where": where}
    if form < 0.18:
        return {"form": "construct", "where": where,
                "template": gen_construct_template(rng, scope)}
    use_agg = scope and rng.random() < 0.25
    if use_agg:
        keys = rng.sample(scope, rng.randint(0, min(2, len(scope))))
        aggs = {}
        for i in range(rng.randint(1, 2)):
            aggs[f"agg{i}"] = _gen_agg_spec(rng, i, scope)
        having = None
        if rng.random() < 0.4:
            having = []
            if rng.random() < 0.7:
                fn = rng.choice(["COUNT", "SUM", "MIN", "MAX"])
                expr = ("var", rng.choice(scope))
                having.append(("agg_cmp", (fn, False, expr),
                               rng.choice(REL_OPS),
                               ("lit", rng.choice(NUM_CONSTS))))
            else:
                having.append(("expr", gen_expr(rng, set(keys))))
        project = [("var", k) for k in keys] + \
            [("agg", a) for a in aggs]
        q = {"where": where, "project": project,
             "group": (keys, aggs), "having": having,
             "distinct": False}
        _gen_modifiers(rng, q, keys + sorted(aggs))
        return q
    n_proj = rng.randint(1, max(1, len(scope)))
    pvars = rng.sample(scope, min(n_proj, len(scope))) if scope else []
    project = [("var", v) for v in pvars]
    proj_names = list(pvars)
    if rng.random() < 0.3:
        alias = "z0"
        project.append((gen_expr(rng, set(scope)), alias))
        proj_names.append(alias)
    if not project:
        project = [("var", "a")]
        proj_names = []
    q = {"where": where, "project": project, "group": None,
         "having": None, "distinct": rng.random() < 0.3}
    _gen_modifiers(rng, q, proj_names)
    return q


# --- rendering -----------------------------------------------------------

def r_term(t):
    if t[0] == "var":
        return "?" + t[1]
    if t[0] == "iri":
        return f"<{t[1]}>"
    if t[0] == "bnode":
        raise AssertionError("bnode constants are not query syntax")
    _, lex, dt, lang = t
    s = (lex.replace("\\", "\\\\").replace('"', '\\"')
         .replace("\n", "\\n").replace("\r", "\\r"))
    if lang:
        return f'"{s}"@{lang}'
    if dt:
        return f'"{s}"^^<{dt}>'
    return f'"{s}"'


def r_expr(e):
    k = e[0]
    if k == "var":
        return "?" + e[1]
    if k == "lit":
        return r_term(e[1])
    if k == "exists":
        kw = "EXISTS" if e[1] else "NOT EXISTS"
        return f"{kw} {{ {r_group(e[2])} }}"
    if k == "op":
        op = e[1]
        if op == "!":
            return f"(! {r_expr(e[2])})"
        if op == "u-":
            return f"(- {r_expr(e[2])})"
        return f"({r_expr(e[2])} {op} {r_expr(e[3])})"
    name = e[1]
    args = ", ".join(r_expr(a) for a in e[2:])
    return f"{name}({args})"


def r_inline(node):
    if node[0] == "bgp":
        return r_group(node)
    return "{ " + r_group(node) + " }"


def r_group(node):
    k = node[0]
    if k == "bgp":
        from naive_sparql import _PATH_KINDS

        def r_pred(p):
            return r_path(p) if p[0] in _PATH_KINDS else r_term(p)
        return " . ".join(
            f"{r_term(s)} {r_pred(p)} {r_term(o)}"
            for s, p, o in node[1]) + " ."
    if k == "join":
        return r_inline(node[1]) + " " + r_inline(node[2])
    if k == "optional":
        if len(node) > 3:
            # a sub-SELECT must be the ENTIRE content of its braces —
            # re-wrap before appending the LeftJoin condition FILTER
            inner = r_inline(node[2]) + f" FILTER({r_expr(node[3])})"
        else:
            inner = r_group(node[2])
        return r_inline(node[1]) + " OPTIONAL { " + inner + " }"
    if k == "union":
        return ("{ " + r_group(node[1]) + " } UNION { "
                + r_group(node[2]) + " }")
    if k == "minus":
        return r_inline(node[1]) + " MINUS { " + r_group(node[2]) + " }"
    if k == "filter":
        return r_inline(node[2]) + f" FILTER({r_expr(node[1])})"
    if k == "bind":
        return (r_inline(node[3])
                + f" BIND({r_expr(node[1])} AS ?{node[2]})")
    if k == "values":
        _, names, rows, sub = node
        hdr = " ".join("?" + n for n in names)
        body = " ".join(
            "(" + " ".join("UNDEF" if t is None else r_term(t)
                           for t in row) + ")"
            for row in rows)
        return r_inline(sub) + f" VALUES ({hdr}) {{ {body} }}"
    if k == "graph":
        tgt = r_term(node[1])
        return f"GRAPH {tgt} {{ {r_group(node[2])} }}"
    if k == "subselect":
        return r_query(node[1])
    raise AssertionError(node)


def r_agg(fn, distinct, expr, sep=None):
    arg = "*" if expr is None else r_expr(expr)
    d = "DISTINCT " if distinct else ""
    s = f'; SEPARATOR="{sep}"' if fn == "GROUP_CONCAT" else ""
    return f"{fn}({d}{arg}{s})"


def r_query(q):
    if q.get("form") == "ask":
        return "ASK { " + r_group(q["where"]) + " }"
    if q.get("form") == "construct":
        tmpl = " . ".join(f"{r_term(s)} {r_term(p)} {r_term(o)}"
                          for s, p, o in q["template"]) + " ."
        return ("CONSTRUCT { " + tmpl + " } WHERE { "
                + r_group(q["where"]) + " }")
    parts = []
    for item in q["project"]:
        if item[0] == "var":
            parts.append("?" + item[1])
        elif item[0] == "agg":
            alias = item[1]
            spec = q["group"][1][alias]
            parts.append(f"({r_agg(*spec)} AS ?{alias})")
        else:
            expr, alias = item
            parts.append(f"({r_expr(expr)} AS ?{alias})")
    sel = "SELECT " + ("DISTINCT " if q["distinct"] else "") \
        + " ".join(parts)
    text = sel + " WHERE { " + r_group(q["where"]) + " }"
    if q["group"] is not None and q["group"][0]:
        text += " GROUP BY " + " ".join("?" + k for k in q["group"][0])
    if q.get("having"):
        cs = []
        for h in q["having"]:
            if h[0] == "agg_cmp":
                _, (fn, dis, expr), op, rhs = h
                cs.append(f"({r_agg(fn, dis, expr)} {op} {r_expr(rhs)})")
            else:
                cs.append(f"({r_expr(h[1])})")
        text += " HAVING " + " ".join(cs)
    order = q.get("order")
    if order:
        keys = []
        for key, d in order:
            if key[0] == "var":
                keys.append(f"?{key[1]}" if d == "asc"
                            else f"DESC(?{key[1]})")
            else:
                kw = "ASC" if d == "asc" else "DESC"
                keys.append(f"{kw}({r_expr(key[1])})")
        text += " ORDER BY " + " ".join(keys)
    if q.get("limit") is not None:
        text += f" LIMIT {q['limit']}"
    if q.get("offset") is not None:
        text += f" OFFSET {q['offset']}"
    return text


# --- comparison ----------------------------------------------------------

def canon(t):
    """Value canonicalization for the multiset comparison: numeric /
    boolean literals by VALUE (the engine's computed columns carry
    Spark dtypes — double sums, bigint counts — where the spec's
    promoted datatypes differ only in name), everything else exact
    (lang lowercased, xsd:string ≡ simple)."""
    if t is None:
        return None
    if t is UNDEFINED or t == UNDEFINED:
        return UNDEFINED
    if t[0] in ("iri", "bnode"):
        return t
    _, lex, dt, lang = t
    if lang is not None:
        return ("lit", lex, None, lang.lower())
    from naive_sparql import NUMERIC_DTS, numeric_value
    if dt in NUMERIC_DTS:
        try:
            _, v = numeric_value(t)
            f = float(v)
            if f != f:
                return ("num", "NaN")
            return ("num", f"{f:.10g}")
        except Exception:
            return ("lit", lex, dt, None)
    if dt == XSD + "boolean":
        if lex in ("true", "1"):
            return ("bool", True)
        if lex in ("false", "0"):
            return ("bool", False)
        return ("lit", lex, dt, None)
    if dt == XSD + "string":
        return ("lit", lex, None, None)
    return ("lit", lex, dt, lang)


def decode_engine(df):
    """Engine solutions → list of dicts var→term, via the results
    module's exact term reconstruction."""
    from rdflib_jsonld_spark.operators import results as R
    names = [c for c in df.columns if not c.startswith("__typ_")]
    rows = df.select(*[R._term_struct(df, n) for n in names]).collect()
    out = []
    for row in rows:
        sol = {}
        for n in names:
            st = row[n]
            if st is None or st["kind"] is None:
                sol[n] = None
                continue
            kind, v = st["kind"], st["value"]
            if kind == "uri":
                sol[n] = ("iri", v)
            elif kind == "bnode":
                sol[n] = ("bnode", v[2:] if v.startswith("_:") else v)
            else:
                dt = st["datatype"]
                lang = st["lang"]
                sol[n] = ("lit", v, dt, lang)
        out.append(sol)
    return out


def row_key(sol):
    return tuple(sorted((k, repr(canon(v))) for k, v in sol.items()))


def _row_keys(ev, row, order):
    """Sort-key terms of one result row for the ORDER BY key list.
    Expression keys recompute over the row's bindings; an expression
    error keys as unbound ([spec] leaves error placement open — the
    caller treats any pair involving it as unconstrained)."""
    out = []
    for key, d in order:
        if key[0] == "var":
            out.append((row.get(key[1]), d))
        else:
            sol = {k: v for k, v in row.items() if v is not None}
            try:
                out.append((ev._ev(key[1], sol), d))
            except Exception:
                out.append((_ERRKEY, d))
    return out


_ERRKEY = ("__errkey__",)


def _pair_cmp(ka, kb):
    """Composite three-way comparison of two key-term lists, or None
    when the pair's relative order is implementation-defined."""
    for (a, d), (b, _) in zip(ka, kb):
        if a is _ERRKEY or b is _ERRKEY:
            return None if a is not b else 0
        c = ord_cmp(a, b)
        if c is None:
            return None
        if c:
            return -c if d == "desc" else c
    return 0


def _check_ordered(ev, q, oracle, engine, stats):
    """Compare under ORDER BY / LIMIT / OFFSET.  Returns a detail dict
    on divergence, None when consistent."""
    order = q["order"] or []
    off = q["offset"] or 0
    lim = q["limit"]
    co = Counter(map(row_key, oracle))
    ce = Counter(map(row_key, engine))
    total = sum(co.values())
    expected = max(0, total - off)
    if lim is not None:
        expected = min(expected, lim)

    if sum(ce.values()) != expected:
        return {"why": "window size", "n_engine": sum(ce.values()),
                "expected": expected, "n_oracle": total}
    if (ce - co):
        return {"why": "engine rows outside oracle multiset",
                "engine_only": list((ce - co).items())[:6]}

    ekeys = [_row_keys(ev, r, order) for r in engine] if order else []
    for i in range(len(ekeys) - 1):
        c = _pair_cmp(ekeys[i], ekeys[i + 1])
        if c is not None and c > 0:
            return {"why": "ORDER BY violated between output rows",
                    "rows": (engine[i], engine[i + 1])}

    if off == 0 and lim is None:
        if co != ce:
            return {"why": "result multiset",
                    "oracle_only": list((co - ce).items())[:6],
                    "engine_only": list((ce - co).items())[:6]}
        stats["ok"] += 1
        return None

    # a LIMIT/OFFSET window is exactly checkable only when the oracle
    # ordering is total (every pair decided) and no tie straddles a cut
    if order and len(oracle) <= 200:
        okeys = [_row_keys(ev, r, order) for r in oracle]
        decided = True
        for i in range(len(okeys)):
            for j in range(i + 1, len(okeys)):
                if _pair_cmp(okeys[i], okeys[j]) is None:
                    decided = False
                    break
            if not decided:
                break
        if decided:
            import functools
            idx = sorted(range(len(oracle)),
                         key=functools.cmp_to_key(
                             lambda i, j: _pair_cmp(okeys[i], okeys[j])))
            cuts = [c for c in (off, off + lim if lim is not None
                                else None)
                    if c is not None and 0 < c < len(idx)]
            if not any(_pair_cmp(okeys[idx[c - 1]], okeys[idx[c]]) == 0
                       for c in cuts):
                window = idx[off:] if lim is None else idx[off:off + lim]
                want = Counter(row_key(oracle[i]) for i in window)
                if want != ce:
                    return {"why": "window multiset",
                            "want_only": list((want - ce).items())[:6],
                            "engine_only": list((ce - want).items())[:6]}
                stats["ok"] += 1
                return None
    stats["okweak"] += 1
    return None


def _run_form(spark, df, q, text, quads, stats):
    """ASK / CONSTRUCT comparison: boolean, or the constructed graph
    as a SET of canonical triples ([spec] §16.2 — CONSTRUCT output is
    a graph; invalid instantiations are skipped)."""
    from rdflib_jsonld_spark.operators.sparql import SparqlError, sparql
    ev = Evaluator(quads)
    try:
        sols = ev.eval(q["where"], None)
    except RecursionError:
        stats["skip"] += 1
        return None
    except ImplDefined:
        stats["undef"] += 1
        return None
    if q["form"] == "ask":
        want = bool(sols)
    else:
        want = set()
        for sol in sols:
            for s, p, o in q["template"]:
                def res(pos):
                    if pos[0] == "var":
                        return sol.get(pos[1])
                    from naive_sparql import _canon_term
                    return _canon_term(pos)
                sv, pv, ov = res(s), res(p), res(o)
                if sv is None or pv is None or ov is None:
                    continue
                if sv[0] not in ("iri", "bnode") or pv[0] != "iri":
                    continue
                from naive_sparql import _canon_term
                want.add((_canon_term(sv), _canon_term(pv),
                          _canon_term(ov)))
    try:
        out = sparql(df, text)
        if q["form"] == "ask":
            got = bool(out.collect()[0]["ask"])
        else:
            got = set()
            for r in out.select("s", "o_kind", "o_value", "o_datatype",
                                "o_lang", "p").collect():
                st = ("bnode", r["s"][2:]) if r["s"].startswith("_:") \
                    else ("iri", r["s"])
                if r["o_kind"] == "literal":
                    ot = ("lit", r["o_value"], r["o_datatype"],
                          r["o_lang"])
                elif r["o_kind"] == "bnode":
                    ot = ("bnode", r["o_value"][2:]
                          if r["o_value"].startswith("_:")
                          else r["o_value"])
                else:
                    ot = ("iri", r["o_value"])
                from naive_sparql import _canon_term
                got.add((_canon_term(st), ("iri", r["p"]),
                         _canon_term(ot)))
    except SparqlError as e:
        if "property paths inside GRAPH ?var" in str(e):
            stats["skip"] += 1
            return None
        return ("parse/eval SparqlError", text, quads, str(e), want)
    except Exception as e:
        return ("engine exception", text, quads,
                f"{type(e).__name__}: {str(e)[:300]}", want)
    if got != want:
        if q["form"] == "ask":
            return ("ask mismatch", text, quads,
                    {"engine": got, "oracle": want}, want)
        return ("construct mismatch", text, quads,
                {"engine_only": sorted(map(repr, got - want))[:6],
                 "oracle_only": sorted(map(repr, want - got))[:6]},
                want)
    stats["ok"] += 1
    return None


def run_one(spark, seed, stats):
    rng = random.Random(seed)
    quads = gen_quads(rng)
    q = gen_query(rng)
    text = r_query(q)
    if q.get("form") in ("ask", "construct"):
        df = quads_df(spark, quads)
        return _run_form(spark, df, q, text, quads, stats)

    # --- oracle
    ev = Evaluator(quads)
    try:
        if q["group"] is not None:
            keys, aggs = q["group"]
            oracle = ev.select(q["where"],
                               [("var", k) for k in keys]
                               + [("agg", a) for a in aggs],
                               group_by=([("var", k) for k in keys],
                                         aggs),
                               having=q.get("having"))
            # ev.select handles ('agg', alias) via _group's output row
            oracle = [
                {k: v for k, v in r.items()} for r in oracle]
        else:
            oracle = ev.select(q["where"], q["project"],
                               distinct=q["distinct"])
    except RecursionError:
        stats["skip"] += 1
        return None
    except ImplDefined:
        stats["undef"] += 1
        return None

    if any(v is UNDEFINED or v == UNDEFINED
           for r in oracle for v in r.values()):
        stats["undef"] += 1
        return None

    # --- engine
    from rdflib_jsonld_spark.operators.sparql import SparqlError, sparql
    df = quads_df(spark, quads)
    try:
        out = sparql(df, text, keep_types=True)
        engine = decode_engine(out)
    except SparqlError as e:
        if "property paths inside GRAPH ?var" in str(e):
            stats["skip"] += 1   # documented v1 narrowing, loud error
            return None
        return ("parse/eval SparqlError", text, quads, str(e), oracle)
    except Exception as e:
        return ("engine exception", text, quads,
                f"{type(e).__name__}: {str(e)[:300]}", oracle)

    if q.get("order") or q.get("limit") is not None \
            or q.get("offset") is not None:
        detail = _check_ordered(ev, q, oracle, engine, stats)
        if detail is not None:
            return ("ordered-result mismatch", text, quads, detail,
                    oracle)
        return None

    co, ce = Counter(map(row_key, oracle)), Counter(map(row_key, engine))
    if co != ce:
        return ("result mismatch", text, quads,
                {"oracle_only": list((co - ce).items())[:6],
                 "engine_only": list((ce - co).items())[:6],
                 "n_oracle": sum(co.values()),
                 "n_engine": sum(ce.values())}, oracle)
    stats["ok"] += 1
    return None


_DF_CACHE = {}


def quads_df(spark, quads):
    key = repr(quads)
    if key in _DF_CACHE:
        return _DF_CACHE[key]
    rows = []
    for g, s, p, o in quads:
        p = p[1]
        gs = None if g is None else (
            g[1] if g[0] == "iri" else "_:" + g[1])
        sv = s[1] if s[0] == "iri" else "_:" + s[1]
        if o[0] == "iri":
            ok, ov, od, ol = "iri", o[1], None, None
        elif o[0] == "bnode":
            ok, ov, od, ol = "bnode", "_:" + o[1], None, None
        else:
            ok, ov, od, ol = "literal", o[1], o[2], o[3]
        rows.append((gs, sv, s[0] == "bnode", p, ok, ov, od, ol))
    schema = ("g string, s string, s_is_bnode boolean, p string, "
              "o_kind string, o_value string, o_datatype string, "
              "o_lang string")
    df = spark.createDataFrame(rows, schema).coalesce(1)
    if len(_DF_CACHE) > 256:
        _DF_CACHE.clear()
    _DF_CACHE[key] = df
    return df


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    start = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    repro = os.environ.get("REPRO")

    from rdflib_jsonld_spark.plans.pipeline import build_session
    spark = build_session(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]", "sparql-fuzz",
        shuffle_partitions=1, driver_memory="8g")
    spark.sparkContext.setLogLevel("ERROR")

    stats = Counter()
    seeds = [int(repro)] if repro else range(start, start + n)
    fails = 0
    for seed in seeds:
        try:
            div = run_one(spark, seed, stats)
        except Exception as e:
            div = ("harness error", "?", "?",
                   f"{type(e).__name__}: {str(e)[:300]}", None)
        if div is not None:
            fails += 1
            kind, text, quads, detail, oracle = div
            print(f"=== seed {seed}: {kind}")
            print(f"    query: {text}")
            print(f"    quads: {quads}")
            print(f"    detail: {detail}")
            if repro:
                print(f"    oracle: {oracle}")
        if (seed - start + 1) % 100 == 0 and not repro:
            print(f"[{seed - start + 1}/{n}] ok={stats['ok']} "
                  f"okweak={stats['okweak']} undef={stats['undef']} "
                  f"skip={stats['skip']} div={fails}", flush=True)
    print(f"DONE n={len(list(seeds))} ok={stats['ok']} "
          f"okweak={stats['okweak']} undef={stats['undef']} "
          f"skip={stats['skip']} divergences={fails}")


if __name__ == "__main__":
    main()
