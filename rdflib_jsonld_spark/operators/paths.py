"""SPARQL 1.1 property paths over the quad table.

The BGP surface (operators/bgp.py) covers conjunctive patterns +
OPTIONAL/FILTER/UNION/VALUES/negation; ``transitive_closure``
(operators/linking.py) covers ``p+``. This module completes the SPARQL
1.1 property-path grammar ([spec] SPARQL 1.1 Query §9, Property Paths)
as compositional DataFrame algebra:

    ========== =============================== =========================
    syntax     constructor                     Spark evaluation
    ========== =============================== =========================
    iri        ``link(iri)``                   predicate-filtered scan
    ^p         ``inv(p)``                      column swap (no shuffle)
    p1/p2      ``seq(p1, p2)``                 equi-join dst=src
    p1|p2      ``alt(p1, p2)``                 union + distinct
    p+         ``plus(p)``                     path-doubling closure
    p*         ``star(p)``                     closure ∪ zero-length
    p?         ``opt(p)``                      edges ∪ zero-length
    !(a|b)     ``nps([a, b])``                 anti-filtered scan
    ========== =============================== =========================

``parse_path("about/(sameAs|^sameAs)*")`` builds the same AST from the
SPARQL surface syntax (bare tokens or ``<iri>``; precedence ``|`` <
``/`` < postfix ``*+?`` < prefix ``^``/``!``, parens group).

Semantics notes ([spec] §9.3 evaluation, §18.4 ALP):
- a path evaluates to the DISTINCT set of (src, dst) term pairs it
  connects — SPARQL path evaluation is set-based (no duplicate solutions
  from multiple routes, no infinite cycles);
- zero-length paths (``*``/``?``) with variable endpoints match every
  TERM IN THE GRAPH to itself — subjects and objects, literals
  included; with a CONSTANT endpoint they match the constant to itself
  unconditionally, graph membership not required ([spec] §18.4
  ZeroLengthPath — sweep 21);
- ``nps`` is the forward negated property set ``!(iri1|...|irin)``;
  inverse and mixed member forms (``!^a``, ``!(a|^b)``) desugar at
  parse time via the spec's own algebra translation
  ``alt(NPS(fwd), inv(NPS(rev)))`` ([spec] §18.2.2.3 — sweep 10).
- path edges spell their object term exactly (``_enc_obj``: a literal
  keeps its language tag or datatype, xsd:string ≡ plain), so closure
  joins and distinct() compare TERMS; bnodes are ``_:label``.

Scale: every combinator is JVM-side column algebra; the only iterative
piece is the closure, which always runs to its fixpoint (no round cap):
path doubling (O(log diameter) shuffle rounds,
``linking.transitive_closure``) or, when ``match_path`` has a constant
endpoint, SEEDED expansion from the constant, so a query like
``<e> sameAs* ?x`` never materializes the full closure — the ALP shape
of [spec] §18.4. A seeded closure whose step relation and seeds fit
``plans.driver.collect_bounded`` runs as a BFS on the driver; a larger
one runs ``rounds.frontier_rounds``, one small round per hop. An
unseeded ``star``/``opt`` materializes the node universe (≤ 2× quad
count rows) — intended for alias-graph-sized relations, same posture
as transitive_closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..jsonld.keys import XSD_STRING
from ..plans.driver import collect_bounded, local_frame
from .bgp import (IRI_SHAPE, TK_PREFIX, TYPED_PREFIX, _is_var,
                  decode_literal, term_key_col)
from .linking import transitive_closure
from .rounds import frontier_rounds, release

# ---------------------------------------------------------------------------
# AST constructors (plain tuples: picklable, hashable, printable)
# ---------------------------------------------------------------------------


def link(iri: str) -> tuple:
    return ("link", iri)


def inv(path: tuple) -> tuple:
    return ("inv", path)


def seq(*paths: tuple) -> tuple:
    if len(paths) < 2:
        raise ValueError("seq needs >= 2 parts")
    return ("seq", *paths)


def alt(*paths: tuple) -> tuple:
    if len(paths) < 2:
        raise ValueError("alt needs >= 2 parts")
    return ("alt", *paths)


def plus(path: tuple) -> tuple:
    return ("plus", path)


def star(path: tuple) -> tuple:
    return ("star", path)


def opt(path: tuple) -> tuple:
    return ("opt", path)


def nps(iris: list[str]) -> tuple:
    if not iris:
        raise ValueError("negated property set needs >= 1 IRI")
    return ("nps", tuple(iris))


# ---------------------------------------------------------------------------
# surface-syntax parser
# ---------------------------------------------------------------------------

_SPECIAL = set("/|^()*+?!<>")


def _tokenize(s: str) -> list[str]:
    out, i, n = [], 0, len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            i += 1
        elif c == "<":  # <iri> — may contain specials
            j = s.index(">", i)
            out.append(s[i + 1:j])
            out.append("\0iri")  # marker: previous token is a raw IRI
            i = j + 1
        elif c in _SPECIAL:
            out.append(c)
            i += 1
        else:
            j = i
            while j < n and not s[j].isspace() and s[j] not in _SPECIAL:
                j += 1
            out.append(s[i:j])
            out.append("\0iri")
            i = j
    return out


def parse_path(s: str) -> tuple:
    """Parse SPARQL property-path surface syntax into the tuple AST.

    Grammar (SPARQL 1.1 §9.1): alternation ``|`` binds loosest, then
    sequence ``/``, then postfix ``* + ?``, then prefix ``^`` and
    ``!(...)``; parentheses group. IRIs are bare tokens or ``<...>``.
    """
    toks = _tokenize(s)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take(expected=None):
        nonlocal pos
        t = toks[pos]
        if expected is not None and t != expected:
            raise ValueError(f"expected {expected!r}, got {t!r} in {s!r}")
        pos += 1
        return t

    def parse_alt():
        parts = [parse_seq()]
        while peek() == "|":
            take("|")
            parts.append(parse_seq())
        return parts[0] if len(parts) == 1 else ("alt", *parts)

    def parse_seq():
        parts = [parse_postfix()]
        while peek() == "/":
            take("/")
            parts.append(parse_postfix())
        return parts[0] if len(parts) == 1 else ("seq", *parts)

    def parse_postfix():
        node = parse_primary()
        while peek() in ("*", "+", "?"):
            node = {"*": star, "+": plus, "?": opt}[take()](node)
        return node

    def parse_primary():
        t = peek()
        if t is None:
            raise ValueError(f"unexpected end of path in {s!r}")
        if t == "^":
            take("^")
            return inv(parse_primary())
        if t == "!":
            take("!")
            fwd: list[str] = []
            rev: list[str] = []

            def one_member():
                if peek() == "^":
                    take("^")
                    rev.append(take())
                else:
                    fwd.append(take())
                take("\0iri")

            if peek() == "(":
                take("(")
                one_member()
                while peek() == "|":
                    take("|")
                    one_member()
                take(")")
            else:
                one_member()   # paren-less !iri / !^iri form
            # [spec] §18.2.2.3: !(f…|^r…) = alt(NPS(f…), inv(NPS(r…)))
            parts = ([nps(fwd)] if fwd else []) \
                + ([inv(nps(rev))] if rev else [])
            return parts[0] if len(parts) == 1 else alt(*parts)
        if t == "(":
            take("(")
            node = parse_alt()
            take(")")
            return node
        iri = take()
        take("\0iri")
        return link(iri)

    node = parse_alt()
    if pos != len(toks):
        raise ValueError(f"trailing tokens {toks[pos:]!r} in {s!r}")
    return node


# ---------------------------------------------------------------------------
# evaluation
# ---------------------------------------------------------------------------


def _scoped(quads: DataFrame, graph: str | None) -> DataFrame:
    if graph is None:
        return quads
    if graph == "*":  # any NAMED graph
        return quads.where(F.col("g").isNotNull())
    return quads.where(F.col("g") == graph)


def _enc_obj():
    """Self-describing spelling of the OBJECT term for path edges:
    literals as ``"esc"``, ``"esc"@lang`` (tag lowercased), or
    ``"esc"^^dt`` (xsd:string ≡ plain); IRIs and ``_:`` bnodes stay
    bare. Injective, so closure joins and distinct() operate on exact
    TERMS — sweep 38: edges previously carried the bare lexical form,
    so a path-bound ``"b"@fr`` leaked into solutions as plain ``"b"``
    and distinct() merged differently-typed literals."""
    esc = F.regexp_replace(F.col("o_value"), r'([\\"])', r'\\$1')
    quoted = F.concat(F.lit('"'), esc, F.lit('"'))
    lang = F.lower(F.col("o_lang"))
    dt = F.expr(f"nullif(o_datatype, '{XSD_STRING}')")
    lit = (F.when(lang.isNotNull(), F.concat(quoted, F.lit("@"), lang))
           .when(dt.isNotNull(), F.concat(quoted, F.lit("^^"), dt))
           .otherwise(quoted))
    return F.when(F.col("o_kind") == "literal", lit) \
        .otherwise(F.col("o_value"))


def _enc_const(value: str, lang: str | None = None,
               dt: str | None = None) -> str:
    """Python twin of :func:`_enc_obj` for constant literal
    endpoints."""
    body = value.replace("\\", "\\\\").replace('"', '\\"')
    if lang:
        return f'"{body}"@{lang.lower()}'
    if dt and dt != XSD_STRING:
        return f'"{body}"^^{dt}'
    return f'"{body}"'


def _const_alts(term: str) -> list[str]:
    """Spellings a constant endpoint may take in the edge relation.
    An encoded literal (the text front-end encodes every literal,
    sweep 37) maps to its exact edge spelling; an IRI-shaped or
    ``_:`` bare constant stays bare; a bare NON-IRI-shaped constant
    (kwargs surface's plain-literal convention) seeds both its bare
    and plain-literal spellings."""
    lit = decode_literal(term)
    if lit is not None:
        return [_enc_const(*lit)]
    if term.startswith("_:") or IRI_SHAPE.match(term):
        return [term]
    return [term, _enc_const(term)]


def _decode_term_out(df: DataFrame, name: str) -> DataFrame:
    """Decode an edge-spelling output column back into the engine's
    solution convention: lexical value + ``__typ_*`` companions +
    ``__tk_`` term key."""
    c = F.col(name)
    is_lit = c.startswith('"')
    raw = F.regexp_extract(c, r'^"((?:[^"\\]|\\.)*)"', 1)
    val = F.regexp_replace(raw, r'\\(.)', r'$1')
    lang_raw = F.regexp_extract(c, r'"@([A-Za-z0-9-]+)$', 1)
    dt_raw = F.regexp_extract(c, r'"\^\^(\S+)$', 1)
    kind = (F.when(is_lit, F.lit("literal"))
            .when(c.startswith("_:"), F.lit("bnode"))
            .otherwise(F.lit("iri")))
    lang = F.when(is_lit & (F.length(lang_raw) > 0), lang_raw)
    dt = F.when(is_lit & (F.length(dt_raw) > 0), dt_raw)
    return (df
            .withColumn(f"{TYPED_PREFIX}{name}__kind",
                        F.when(c.isNotNull(), kind))
            .withColumn(f"{TYPED_PREFIX}{name}__lang", lang)
            .withColumn(f"{TYPED_PREFIX}{name}__datatype", dt)
            .withColumn(TK_PREFIX + name,
                        F.when(c.isNotNull(),
                               term_key_col(kind, dt, lang)))
            .withColumn(name, F.when(is_lit, val).otherwise(c)))


def graph_nodes(quads: DataFrame, graph: str | None = None) -> DataFrame:
    """Distinct terms of the graph (subjects ∪ objects, literals
    included) as one ``node`` column — the zero-length-path domain.
    Object literals carry the :func:`_enc_obj` spelling, like every
    path edge."""
    q = _scoped(quads, graph)
    return (q.select(F.col("s").alias("node"))
            .union(q.select(_enc_obj().alias("node")))
            .distinct())


def _pairs(df: DataFrame) -> DataFrame:
    return df.select("src", "dst")


def eval_path(quads: DataFrame, path: tuple,
              graph: str | None = None) -> DataFrame:
    """Full-relation evaluation: DISTINCT (src, dst) pairs the path
    connects anywhere in the graph. ``graph`` scopes like the BGP GRAPH
    clause (None = any graph, "*" = named graphs only, else constant)."""
    q = _scoped(quads, graph)
    kind = path[0]
    if kind == "link":
        return _pairs(q.where(F.col("p") == path[1]).select(
            F.col("s").alias("src"), _enc_obj().alias("dst"))).distinct()
    if kind == "nps":
        return _pairs(q.where(~F.col("p").isin(*path[1])).select(
            F.col("s").alias("src"), _enc_obj().alias("dst"))).distinct()
    if kind == "inv":
        inner = eval_path(quads, path[1], graph)
        return inner.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst"))
    if kind in ("seq", "alt"):
        return _seq_alt(kind, path[1:], lambda part, mid: (
            eval_path(quads, part, graph) if mid is None
            else _eval_from(quads, _push_inv(part), mid, graph)))
    if kind == "plus":
        return transitive_closure(eval_path(quads, path[1], graph))
    if kind in ("star", "opt"):
        base = eval_path(quads, path[1], graph)
        if kind == "star":
            base = transitive_closure(base)
        ident = graph_nodes(quads, graph).select(
            F.col("node").alias("src"), F.col("node").alias("dst"))
        return base.union(ident).distinct()
    raise ValueError(f"unknown path node {path!r}")


def _seq_alt(kind: str, parts: tuple, ev) -> DataFrame:
    """``seq`` / ``alt`` over path parts. ``ev(part, mid)`` evaluates
    one part: seeded from ``mid`` (a one-column ``src`` frame), or, when
    ``mid`` is None, as the caller evaluates a part on its own. A
    sequence evaluates parts 2..n SEEDED from the dst set reached so
    far, so a trailing closure/star never materializes the full relation
    (nor the node-universe identity), only the reachable slice; an
    alternative unions its parts."""
    acc = ev(parts[0], None)
    for part in parts[1:]:
        if kind == "alt":
            acc = acc.union(ev(part, None))
            continue
        mid = acc.select(F.col("dst").alias("src")).distinct()
        acc = (acc.alias("a")
               .join(ev(part, mid).alias("b"),
                     F.col("a.dst") == F.col("b.src"))
               .select(F.col("a.src").alias("src"),
                       F.col("b.dst").alias("dst"))
               .distinct())
    return acc.distinct() if kind == "alt" else acc


def _push_inv(path: tuple, invert: bool = False) -> tuple:
    """Normalize so ``inv`` only wraps link/nps: ^(a/b) = ^b/^a,
    ^(p+) = (^p)+, ^^p = p ([spec] §9.3 path equivalences). Seeded
    evaluation relies on this — an un-pushed ``inv(plus(p))`` would
    force a full-relation closure just to filter it."""
    kind = path[0]
    if kind in ("link", "nps"):
        return ("inv", path) if invert else path
    if kind == "inv":
        return _push_inv(path[1], not invert)
    if kind == "seq":
        parts = [_push_inv(p, invert) for p in path[1:]]
        if invert:
            parts.reverse()
        return ("seq", *parts)
    if kind == "alt":
        return ("alt", *[_push_inv(p, invert) for p in path[1:]])
    if kind in ("plus", "star", "opt"):
        return (kind, _push_inv(path[1], invert))
    raise ValueError(f"unknown path node {path!r}")


def eval_path_from(quads: DataFrame, path: tuple, seeds: DataFrame,
                   graph: str | None = None) -> DataFrame:
    """Seeded evaluation: (src, dst) pairs where src ∈ ``seeds`` (a
    one-column ``src`` DataFrame). Never materializes the full closure —
    closures run as frontier BFS from the seeds and sequences thread the
    reached set left-to-right, so cost scales with the reachable
    neighborhood, not the graph ([spec] §18.4 ALP shape)."""
    return _eval_from(quads, _push_inv(path), seeds, graph)


def _eval_from(quads: DataFrame, path: tuple, seeds: DataFrame,
               graph: str | None) -> DataFrame:
    kind = path[0]
    if kind in ("plus", "star"):
        return _closure_from(quads, path, seeds.select("src"), graph)
    seeds = seeds.select("src").distinct()
    if kind in ("link", "nps"):
        return eval_path(quads, path, graph).join(seeds, on="src")
    if kind == "inv":
        # normalized: inner is link/nps. ^p from seeds = p arriving AT
        # seeds — a predicate-filtered scan joined on dst, then swap
        inner = eval_path(quads, path[1], graph)
        return (inner.join(seeds.select(F.col("src").alias("dst")), on="dst")
                .select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    if kind in ("seq", "alt"):
        return _seq_alt(kind, path[1:], lambda part, mid: _eval_from(
            quads, part, seeds if mid is None else mid, graph))
    if kind == "opt":
        base = _eval_from(quads, path[1], seeds, graph)
        ident = seeds.select("src", F.col("src").alias("dst"))
        return base.union(ident).distinct()
    raise ValueError(f"unknown path node {path!r}")


def _closure_from(quads: DataFrame, path: tuple, seeds: DataFrame,
                  graph: str | None) -> DataFrame:
    """Seeded ``plus`` / ``star``: (src, dst) pairs, src ∈ ``seeds``."""
    kind = path[0]
    step = eval_path(quads, path[1], graph)
    edge_rows = collect_bounded(step)
    seed_rows = collect_bounded(seeds) if edge_rows is not None else None
    if seed_rows is not None:
        return local_frame(quads.sparkSession, _driver_closure(
            edge_rows, {r.src for r in seed_rows}, kind == "star"),
            "src string, dst string")
    # materialize the step relation once — the BFS loop scans it every
    # round (and it may carry a Python expansion upstream)
    edges = step.localCheckpoint(eager=True)

    def hop(frontier):   # (origin, node) → (origin, next node)
        return (frontier.alias("f")
                .join(edges.alias("e"), F.col("f.node") == F.col("e.src"))
                .select(F.col("f.origin").alias("origin"),
                        F.col("e.dst").alias("node"))
                .distinct())

    # [spec] §18.4 ZeroLengthPath(term X, var Y) binds Y to X
    # UNCONDITIONALLY — a seeded (constant-endpoint) star includes the
    # seed itself even when it never occurs in the graph (sweep 21; only
    # the VAR-VAR zero-length path is restricted to graph terms).
    # Mid-sequence seeds always occur in the graph, so this changes
    # nothing for threaded sequences.
    zero = seeds.distinct().select(F.col("src").alias("origin"),
                                   F.col("src").alias("node"))
    visited = frontier_rounds(
        zero if kind == "star" else hop(zero),
        lambda f, v, _: hop(f).join(v, ["origin", "node"], "left_anti"))
    release(edges)   # the loop's checkpoints no longer read it
    return visited.select(F.col("origin").alias("src"),
                          F.col("node").alias("dst"))


def _driver_closure(edges: list, seeds: set, reflexive: bool) -> list:
    """(seed, node) for every node reachable from a seed in one or more
    steps of ``edges`` (``(src, dst)`` rows), plus (seed, seed) when
    ``reflexive`` — the driver twin of the frontier loop."""
    succ: dict = {}
    for e in edges:
        succ.setdefault(e.src, []).append(e.dst)
    out = []
    for seed in seeds:
        seen = {seed} if reflexive else set()
        todo = list(succ.get(seed, ()))
        while todo:
            node = todo.pop()
            if node not in seen:
                seen.add(node)
                todo.extend(succ.get(node, ()))
        out.extend((seed, node) for node in seen)
    return sorted(out, key=str)


def match_path(quads: DataFrame, subj: str, path: tuple | str, obj: str,
               graph: str | None = None,
               distinct: bool = True) -> DataFrame:
    """One path pattern ``subj path obj`` → solution DataFrame, the
    path analogue of a ``match_bgp`` pattern. ``subj``/``obj`` are
    ``?var`` or constants; ``path`` is an AST tuple or surface syntax
    (``parse_path`` applied). Constant endpoints switch to seeded
    evaluation (constant object evaluates the INVERSE path seeded from
    the object — same bounded cost). Join the result with
    ``match_bgp`` output on the shared variable names for mixed
    BGP+path queries."""
    if isinstance(path, str):
        path = parse_path(path)
    s_var, o_var = _is_var(subj), _is_var(obj)
    # constant endpoints seed with their EDGE spellings (sweep 38:
    # exact-term matching — an encoded "x"@en endpoint now matches
    # only the tagged literal; a bare constant seeds both its IRI and
    # plain-literal spellings for kwargs-surface compatibility)
    subj_alts = None if s_var else _const_alts(subj)
    obj_alts = None if o_var else _const_alts(obj)
    if not s_var:
        seeds = local_frame(quads.sparkSession,
                            [(a,) for a in subj_alts], "src string")
        pairs = eval_path_from(quads, path, seeds, graph)
    elif not o_var:
        seeds = local_frame(quads.sparkSession,
                            [(a,) for a in obj_alts], "src string")
        pairs = eval_path_from(quads, inv(path), seeds, graph) \
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    else:
        pairs = eval_path(quads, path, graph)

    if s_var and o_var:
        if subj == obj:  # same variable both ends → cyclic constraint
            out = pairs.where(F.col("src") == F.col("dst")) \
                .select(F.col("src").alias(subj[1:]))
        else:
            out = pairs.select(F.col("src").alias(subj[1:]),
                               F.col("dst").alias(obj[1:]))
    elif s_var:
        out = pairs.where(F.col("dst").isin(obj_alts)) \
            .select(F.col("src").alias(subj[1:]))
    elif o_var:
        out = pairs.where(F.col("src").isin(subj_alts)) \
            .select(F.col("dst").alias(obj[1:]))
    else:  # ASK shape: both constant → 0/1 row existence
        out = pairs.where(F.col("src").isin(subj_alts)
                          & F.col("dst").isin(obj_alts)) \
            .select(F.lit(1).alias("_exists"))
    out = out.distinct() if distinct else out
    # decode edge spellings into the solution convention (lexical
    # value + typing companions + term key)
    for v in dict.fromkeys([subj[1:]] * s_var + [obj[1:]] * o_var):
        out = _decode_term_out(out, v)
    return out
