"""Sweep 39 — random SPARQL Update differential (dual-engine method).

Generates random Update request sequences (INSERT/DELETE DATA,
DELETE WHERE, the full modify form with WITH/USING, CLEAR/DROP,
ADD/COPY/MOVE) over random small quad stores, applies them through
BOTH engines — operators/update.py and a spec-derived naive store
application built on tests/naive_sparql.py — and compares the final
stores as SETS of canonical quads (RDF term identity: xsd:string ≡
plain, language tags case-insensitive; spelling-level duplicates
collapse on both sides).

Usage:  python tools/update_fuzz.py [n_examples] [start_seed]
Re-run one seed with REPRO=<seed>.
"""
from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))
sys.path.insert(0, os.path.dirname(__file__))

from collections import Counter

from naive_sparql import (Evaluator, ImplDefined, UNDEFINED, XSD,
                          _canon_term)
from sparql_fuzz import (GRAPHS, IRIS, LITS, PREDS, gen_algebra,
                         gen_quads, gen_term, quads_df, r_group, r_term)

GRAPH_IRIS = [g[1] for g in GRAPHS if g]


# --- generator -----------------------------------------------------------

def gen_ground_quad(rng, no_bnodes=True):
    g = rng.choice(GRAPHS)
    s = gen_term(rng, "ii")
    p = ("iri", rng.choice(PREDS))
    o = gen_term(rng, "illl" if no_bnodes else "iblll")
    return (g, s, p, o)


def gen_template(rng, scope):
    """[(graph_term_or_None, [(s, p, o)...])] — template positions are
    scope vars or constants; no bnode labels (engine mints per-row
    bnodes, which set comparison can't chase)."""
    blocks = []
    for _ in range(rng.randint(1, 2)):
        if rng.random() < 0.3:
            gterm = ("iri", rng.choice(GRAPH_IRIS))
        else:
            gterm = None
        trips = []
        for _ in range(rng.randint(1, 2)):
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
        blocks.append((gterm, trips))
    return blocks


def gen_op(rng, store):
    r = rng.random()
    if r < 0.15:
        n = rng.randint(1, 3)
        return ("insert_data", [gen_ground_quad(rng) for _ in range(n)])
    if r < 0.30:
        quads = []
        for _ in range(rng.randint(1, 3)):
            cands = [q for q in store
                     if q[1][0] != "bnode" and q[3][0] != "bnode"
                     and (q[0] is None or q[0][0] != "bnode")]
            if cands and rng.random() < 0.6:
                quads.append(rng.choice(cands))
            else:
                quads.append(gen_ground_quad(rng))
        return ("delete_data", quads)
    if r < 0.42:
        sel = rng.choice([("graph", rng.choice(GRAPH_IRIS)),
                          ("default",), ("named",), ("all",)])
        return (rng.choice(["clear", "drop"]), sel)
    if r < 0.54:
        pick = lambda: rng.choice([None] + GRAPH_IRIS)
        src, dst = pick(), pick()
        return (rng.choice(["add", "copy", "move"]), src, dst)
    if r < 0.66:
        # DELETE WHERE: plain BGP, pattern ≡ template
        scope = set()
        trips = []
        for _ in range(rng.randint(1, 2)):
            def pos(kinds, var_p):
                if rng.random() < var_p:
                    v = rng.choice("abcdef")
                    scope.add(v)
                    return ("var", v)
                return gen_term(rng, kinds)
            s = pos("ii", 0.7)
            p = pos("i", 0.3)
            if p[0] not in ("var", "iri"):
                p = ("iri", rng.choice(PREDS))
            o = pos("illl", 0.6)
            trips.append((s, p, o))
        return ("delete_where", trips, sorted(scope))
    # full modify form
    where, scope = gen_algebra(rng, depth=1)
    scope = sorted(scope)
    with_g = rng.choice(GRAPH_IRIS) if rng.random() < 0.3 else None
    using = None
    if rng.random() < 0.25:
        defaults = rng.sample(GRAPH_IRIS, rng.randint(0, 2))
        named = rng.sample(GRAPH_IRIS, rng.randint(0, 1))
        if defaults or named:
            using = (defaults, named)
    dels = gen_template(rng, scope) if rng.random() < 0.75 else None
    ins = gen_template(rng, scope) if dels is None or rng.random() < 0.6 \
        else None
    return ("modify", dels, ins, where, with_g, using)


def gen_request(rng, store):
    return [gen_op(rng, store) for _ in range(rng.randint(1, 3))]


# --- rendering -----------------------------------------------------------

def r_quad_block(quads):
    parts = []
    for g, s, p, o in quads:
        t = f"{r_term(s)} {r_term(p)} {r_term(o)} ."
        if g is not None:
            t = f"GRAPH {r_term(g)} {{ {t} }}"
        parts.append(t)
    return " ".join(parts)


def r_template(blocks):
    parts = []
    for gterm, trips in blocks:
        body = " . ".join(f"{r_term(s)} {r_term(p)} {r_term(o)}"
                          for s, p, o in trips) + " ."
        if gterm is not None:
            parts.append(f"GRAPH {r_term(gterm)} {{ {body} }}")
        else:
            parts.append(body)
    return " ".join(parts)


def r_op(op):
    k = op[0]
    if k == "insert_data":
        return "INSERT DATA { " + r_quad_block(op[1]) + " }"
    if k == "delete_data":
        return "DELETE DATA { " + r_quad_block(op[1]) + " }"
    if k in ("clear", "drop"):
        sel = op[1]
        tgt = {"default": "DEFAULT", "named": "NAMED",
               "all": "ALL"}.get(sel[0]) or f"GRAPH <{sel[1]}>"
        return f"{k.upper()} {tgt}"
    if k in ("add", "copy", "move"):
        def t(x):
            return "DEFAULT" if x is None else f"GRAPH <{x}>"
        return f"{k.upper()} {t(op[1])} TO {t(op[2])}"
    if k == "delete_where":
        body = " . ".join(f"{r_term(s)} {r_term(p)} {r_term(o)}"
                          for s, p, o in op[1]) + " ."
        return "DELETE WHERE { " + body + " }"
    _, dels, ins, where, with_g, using = op
    out = ""
    if with_g:
        out += f"WITH <{with_g}> "
    if dels is not None:
        out += "DELETE { " + r_template(dels) + " } "
    if ins is not None:
        out += "INSERT { " + r_template(ins) + " } "
    for g in (using[0] if using else []):
        out += f"USING <{g}> "
    for g in (using[1] if using else []):
        out += f"USING NAMED <{g}> "
    out += "WHERE { " + r_group(where) + " }"
    return out


# --- naive application ---------------------------------------------------

def canon_quad(q):
    g, s, p, o = q
    return (_canon_term(g), _canon_term(s), _canon_term(p),
            _canon_term(o))


def _resolve(pos, sol):
    if pos[0] == "var":
        return sol.get(pos[1])
    return _canon_term(pos)


def naive_instantiate(sols, blocks, with_g):
    """Ground quads a template produces over a solution multiset —
    instantiations with an unbound var, a literal/invalid term in
    s/p/graph position are SKIPPED ([spec] Update §3.1.3 quad
    patterns must yield valid RDF)."""
    out = set()
    wg = ("iri", with_g) if with_g else None
    for gterm, trips in blocks:
        for sol in sols:
            if gterm is None:
                g = wg
            else:
                g = _resolve(gterm, sol) if gterm[0] == "var" \
                    else _canon_term(gterm)
            if gterm is not None and (g is None
                                      or g[0] not in ("iri", "bnode")):
                continue
            for s, p, o in trips:
                sv, pv, ov = (_resolve(s, sol), _resolve(p, sol),
                              _resolve(o, sol))
                if sv is None or pv is None or ov is None:
                    continue
                if sv[0] not in ("iri", "bnode") or pv[0] != "iri":
                    continue
                out.add((g, _canon_term(sv), _canon_term(pv),
                         _canon_term(ov)))
    return out


def naive_update(store, ops):
    """Apply the generated ops to a canonical quad SET."""
    cur = {canon_quad(q) for q in store}
    for op in ops:
        k = op[0]
        if k == "insert_data":
            cur |= {canon_quad(q) for q in op[1]}
        elif k == "delete_data":
            cur -= {canon_quad(q) for q in op[1]}
        elif k in ("clear", "drop"):
            sel = op[1]
            if sel[0] == "default":
                cur = {q for q in cur if q[0] is not None}
            elif sel[0] == "named":
                cur = {q for q in cur if q[0] is None}
            elif sel[0] == "all":
                cur = set()
            else:
                t = ("iri", sel[1])
                cur = {q for q in cur if q[0] != t}
        elif k in ("add", "copy", "move"):
            _, src, dst = op
            if src == dst:
                continue
            st = None if src is None else ("iri", src)
            dt = None if dst is None else ("iri", dst)
            moved = {(dt, s, p, o) for g, s, p, o in cur if g == st}
            if k in ("copy", "move"):
                cur = {q for q in cur if q[0] != dt}
            if k == "move":
                cur = {q for q in cur if q[0] != st}
            cur |= moved
        elif k == "delete_where":
            _, trips, _scope = op
            ev = Evaluator([tuple(q) for q in cur])
            sols = ev.eval(("bgp", trips), None)
            cur -= naive_instantiate(sols, [(None, trips)], None)
        else:
            _, dels, ins, where, with_g, using = op
            view = list(cur)
            scope_g = ("iri", with_g) if with_g else None
            if using is not None:
                defaults, named = using
                dv = [(None, s, p, o) for g, s, p, o in cur
                      if g is not None and g[1] in defaults
                      and g[0] == "iri"]
                nv = [q for q in cur
                      if q[0] is not None and q[0][0] == "iri"
                      and q[0][1] in named]
                view = dv + nv
                scope_g = None
            ev = Evaluator(view)
            sols = ev.eval(where, scope_g)
            d = naive_instantiate(sols, dels, with_g) if dels else set()
            i = naive_instantiate(sols, ins, with_g) if ins else set()
            cur = (cur - d) | i
    return cur


# --- engine decode -------------------------------------------------------

def decode_store(df):
    rows = df.select("g", "s", "p", "o_kind", "o_value",
                     "o_datatype", "o_lang").collect()
    out = set()
    for g, s, p, k, v, dt, lang in rows:
        gt = None if g is None else (
            ("bnode", g[2:]) if g.startswith("_:") else ("iri", g))
        st = ("bnode", s[2:]) if s.startswith("_:") else ("iri", s)
        pt = ("iri", p)
        if k == "literal":
            ot = ("lit", v, dt, lang)
        elif k == "bnode":
            ot = ("bnode", v[2:] if v.startswith("_:") else v)
        elif k == "triple":
            ot = ("triple", v)
        else:
            ot = ("iri", v)
        out.add(canon_quad((gt, st, pt, ot)))
    return out


def run_one(spark, seed, stats):
    rng = random.Random(seed)
    store = gen_quads(rng)
    ops = gen_request(rng, store)
    text = " ; ".join(r_op(o) for o in ops)

    try:
        want = naive_update(store, ops)
    except (ImplDefined, RecursionError):
        stats["skip"] += 1
        return None
    if any(t is UNDEFINED or t == UNDEFINED
           for q in want for t in q):
        stats["undef"] += 1
        return None

    from rdflib_jsonld_spark.operators.sparql import SparqlError
    from rdflib_jsonld_spark.operators.update import update
    df = quads_df(spark, store)
    try:
        # the production path: small deltas stay on the driver, larger
        # ones fold into a checkpoint (plans.driver.DRIVER_ROWS);
        # tests/test_driver_bound.py replays the pinned seeds both ways
        got = decode_store(update(df, text))
    except SparqlError as e:
        if "property paths inside GRAPH ?var" in str(e):
            stats["skip"] += 1   # documented v1 narrowing, loud error
            return None
        return ("SparqlError", text, store, str(e), want)
    except Exception as e:
        return ("engine exception", text, store,
                f"{type(e).__name__}: {str(e)[:300]}", want)

    if got != want:
        return ("store mismatch", text, store,
                {"engine_only": sorted(map(repr, got - want))[:6],
                 "naive_only": sorted(map(repr, want - got))[:6],
                 "n_engine": len(got), "n_naive": len(want)}, want)
    stats["ok"] += 1
    return None


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    start = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    repro = os.environ.get("REPRO")

    from rdflib_jsonld_spark.plans.pipeline import build_session
    spark = build_session(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]", "update-fuzz",
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
            kind, text, store, detail, want = div
            print(f"=== seed {seed}: {kind}")
            print(f"    request: {text}")
            print(f"    store: {store}")
            print(f"    detail: {detail}")
        if (seed - start + 1) % 50 == 0 and not repro:
            print(f"[{seed - start + 1}/{n}] ok={stats['ok']} "
                  f"undef={stats['undef']} skip={stats['skip']} "
                  f"div={fails}", flush=True)
    print(f"DONE n={len(list(seeds))} ok={stats['ok']} "
          f"undef={stats['undef']} skip={stats['skip']} "
          f"divergences={fails}")


if __name__ == "__main__":
    main()
