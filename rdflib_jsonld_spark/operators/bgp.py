"""Basic graph pattern (BGP) matching over the quad table.

rdflib users query constructed graphs with triple patterns (
``graph.triples((s, p, o))`` / SPARQL BGPs — the rdflib surface the
reference plugs into). The Spark-native equivalent: each pattern is a
filtered projection of the quad table; shared variables become equi-join
keys; Catalyst orders the joins and AQE picks broadcast/skew strategies.

Pattern syntax: a 3-tuple of strings; ``?name`` marks a variable,
anything else is a constant (IRI or plain-literal lexical). Example:

    match_bgp(quads, [
        ("?m", VOCAB + "about",   "?e"),
        ("?m", VOCAB + "surface", "?s"),
    ])  →  DataFrame(m, e, s)

Scale notes: each pattern scans the (bucketed, predicate-filterable) quad
table with its constants pushed down. The left-deep join order is chosen
by a selectivity heuristic (most constants first, then rarest predicate
when ``stats`` are supplied, connectivity-aware so no accidental cross
joins) — exactly the static ordering a triple store would pick; pass
``optimize=False`` to keep author order. Variables bind the string form
of terms (bnodes keep ``_:``); object bindings also carry hidden
``__typ_<var>__kind/__datatype/__lang`` companions when
``with_types=True`` so CONSTRUCT can re-emit values with their original
typing, and ``__tk_<var>`` term keys join as terms, not lexical forms.

``match_bgp_extended`` (OPTIONAL / UNION / VALUES / FILTER / NOT EXISTS
/ MINUS as keyword arguments) only builds a group graph pattern: the
group algebra lives once, in ``sparql._eval_group``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from ..jsonld.keys import RDF_LANGSTRING, XSD_STRING
from ..jsonld.tordf import BNODE, IRI, LIT
from ..plans.driver import local_frame
from .expand import CORE_SCHEMA, QUAD_KEY_COLS
from .star import quoted_components, term_to_star

#: a scheme prefix: the kwargs surface reads such a bare string as an IRI
IRI_SHAPE = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:")


def _is_var(x: str) -> bool:
    return isinstance(x, str) and x.startswith("?")


def collect_predicate_stats(quads: DataFrame) -> dict[str, int]:
    """One cheap stats action: predicate → quad count, for join ordering.
    Run this on a MATERIALIZED quad table (running it on an unpersisted
    expansion plan would recompute the Python stage)."""
    return {r["p"]: r["n"] for r in
            quads.groupBy("p").agg(F.count(F.lit(1)).alias("n")).collect()}


def leaves(term, only: str = "spo"):
    """Every leaf term of a pattern term, descending through quoted
    triples ``("qt", s, p, o)`` at any depth; with :func:`map_leaves`,
    the one walker of pattern, template and DATA terms. ``only`` keeps
    the leaves whose innermost slot is one of ``"s"``, ``"p"``, ``"o"``
    (a bare term counts as an object). A triple pattern is walked as
    ``leaves(("qt", s, p, o))``. Non-quoted tuples (property paths,
    DATA-block literals) are leaves."""
    if not (isinstance(term, tuple) and term[0] == "qt"):
        if "o" in only:
            yield term
        return
    for slot, inner in zip("spo", term[1:]):
        if isinstance(inner, tuple) and inner[0] == "qt":
            yield from leaves(inner, only)
        elif slot in only:
            yield inner


def map_leaves(term, f, node=lambda s, p, o: ("qt", s, p, o)):
    """Rebuild a pattern term: every leaf becomes ``f(leaf)`` and every
    quoted triple ``node(s, p, o)`` of its rebuilt components (by
    default the same ``("qt", s, p, o)`` shape)."""
    if isinstance(term, tuple) and term[0] == "qt":
        return node(*(map_leaves(t, f, node) for t in term[1:]))
    return f(term)


def _pattern_vars(pat: tuple) -> set[str]:
    return {x[1:] for x in leaves(("qt", *pat)) if _is_var(x)}


def _order_patterns(patterns: list[tuple[str, str, str]],
                    stats: dict[str, int] | None) -> list[int]:
    """Greedy connectivity-aware selectivity order (returns indices).

    Score: more constants = more selective; among equals, a constant
    predicate with a lower corpus frequency (when stats given) wins; the
    original index breaks remaining ties (stable). After the first pick,
    only patterns sharing a variable with the bound set are considered
    unless none connects (disconnected groups keep their cross join)."""
    def sel_key(i: int):
        p = patterns[i][1]
        n_const = sum(not _is_var(x) for x in leaves(("qt", *patterns[i])))
        freq = stats.get(p, 0) if (stats and not _is_var(p)) else 0
        return (-n_const, freq, i)

    remaining = list(range(len(patterns)))
    order: list[int] = []
    bound: set[str] = set()
    while remaining:
        connected = [i for i in remaining
                     if not order or (bound & _pattern_vars(patterns[i]))]
        pool = connected or remaining
        pick = min(pool, key=sel_key)
        order.append(pick)
        remaining.remove(pick)
        bound |= _pattern_vars(patterns[pick])
    return order


TYPED_PREFIX = "__typ_"  # reserved: user variables must not start with it
TK_PREFIX = "__tk_"      # reserved: normalized term-key companions


def term_key_col(kind, dt, lang):
    """Normalized TERM-DISCRIMINATOR column ([spec] SPARQL 1.1 §18.3:
    solution compatibility equates RDF TERMS, not lexical forms —
    sweep 37: value-only joins matched "a" with "a"@en). 'iri' /
    'bnode' / 'triple' by kind; literals 'L@<lang>' (lowercased — the
    rdf:langString-dt and bare-lang storage spellings normalize
    identically) or 'L<datatype>' with plain ≡ xsd:string. Joining on
    (value, term_key) is exact term equality."""
    return (F.when(kind == "literal",
                   F.concat(F.lit("L"),
                            F.when(lang.isNotNull(),
                                   F.concat(F.lit("@"), F.lower(lang)))
                            .otherwise(F.coalesce(
                                dt, F.lit(XSD_STRING)))))
            .otherwise(kind))


def term_key_of(kind: str, dt: str | None, lang: str | None) -> str:
    """Python-side twin of :func:`term_key_col` for constant cells."""
    if kind != "literal":
        return kind
    if lang:
        return "L@" + lang.lower()
    return "L" + (dt or XSD_STRING)


def _shape_key_col(value):
    """Term key derived from value shape alone — s/p/g positions bind
    IRIs or ('_:'-prefixed) bnodes, never literals."""
    return (F.when(value.startswith("_:"), F.lit("bnode"))
            .otherwise(F.lit("iri")))

_ENC_LIT_RE = re.compile(
    r'^"((?:[^"\\]|\\.)*)"(?:@([A-Za-z0-9-]+)|\^\^(\S+))?$', re.S)


def encode_literal(value: str, lang: str | None = None,
                   datatype: str | None = None) -> str:
    """Constant-term encoding for literals that carry a language tag or
    datatype in pattern/template position (N-Triples-shaped, datatype
    bare). Plain literals stay bare strings — the kwargs surface's
    lexical-form matching convention (sweep 10: the text front-end's
    ``"Bob"@en`` matched ANY "Bob" because the tag was dropped)."""
    import json
    body = json.dumps(value)[1:-1]
    if lang:
        return f'"{body}"@{lang}'
    if datatype:
        return f'"{body}"^^{datatype}'
    return f'"{body}"'


def decode_literal(term: str) -> tuple | None:
    """Inverse of :func:`encode_literal` → ``(value, lang, datatype)``,
    or None when ``term`` is not in encoded form."""
    if not term.startswith('"'):
        return None
    m = _ENC_LIT_RE.match(term)
    if not m:
        return None
    import json
    return json.loads('"' + m.group(1) + '"'), m.group(2), m.group(3)


def _encoded_literal_filter(df: DataFrame, lit: tuple, kind: str = "o_kind",
                            value: str = "o_value", dt: str = "o_datatype",
                            lang: str = "o_lang") -> DataFrame:
    """Exact-term match for an encoded literal constant over the named
    kind/value/datatype/lang columns: value, kind, and lang
    (case-insensitive) / datatype (xsd:string ≡ plain)."""
    lex, lit_lang, lit_dt = lit
    df = df.where((F.col(value) == lex) & (F.col(kind) == "literal"))
    if lit_lang:
        return df.where(F.lower(F.col(lang)) == lit_lang.lower())
    return df.where(F.col(lang).isNull()
                    & (F.coalesce(F.col(dt), F.lit(XSD_STRING))
                       == (lit_dt or XSD_STRING)))


def _pattern_df(quads: DataFrame, i: int, pat: tuple, capture: set[str],
                graph_var: str | None = None,
                emit_term_keys: bool = False) -> tuple:
    """One pattern → filtered projection. A variable in ``capture``
    bound in an OBJECT slot (the pattern's, or a quoted triple's at any
    depth) also projects that slot's kind/datatype/lang as hidden
    ``__typ_<var>__*`` companion columns, once (``capture`` is
    consumed). A variable repeated WITHIN the
    pattern (e.g. ("?x", p, "?x")) adds the positional equality filter
    instead of silently overwriting the earlier binding. With
    ``graph_var``, the g column binds that variable in every pattern
    (so multi-pattern matches require co-occurrence in ONE graph)."""
    df = quads
    cols: dict[str, str] = {}
    lits: dict[str, tuple] = {"o_value": ("o_kind", "o_datatype", "o_lang")}
    type_proj: list = []

    def src_tk(src: str):
        lc = lits.get(src)
        if lc is not None:
            return term_key_col(*(F.col(c) for c in lc))
        return _shape_key_col(F.col(src))

    def bind(var: str, src: str):
        nonlocal df
        if var in cols:
            prev = cols[var]
            df = df.where(F.col(prev) == F.col(src))
            # same-pattern repeat across positions equates TERMS, not
            # lexical forms (sweep 37): a literal in object position
            # never equals the IRI/bnode a subject/predicate slot binds
            a, b = lits.get(prev), lits.get(src)
            if a and b:
                df = df.where(term_key_col(*(F.col(c) for c in a))
                              == term_key_col(*(F.col(c) for c in b)))
            elif a:
                df = df.where(F.col(a[0]) != F.lit("literal"))
            elif b:
                df = df.where(F.col(b[0]) != F.lit("literal"))
        else:
            cols[var] = src

    def place(term, src: str, slot: str):
        # constrain column ``src`` by ``term`` (constants filter, ?vars
        # bind). An RDF-star quoted pattern decomposes the star.py
        # table spelling in ``src`` into temp columns and places its
        # components there, recursively (annotations on annotations).
        nonlocal df
        lc = lits.get(src)
        if isinstance(term, tuple) and term[0] == "qt":
            df = df.where(F.col(lc[0]) == "triple" if lc
                          else F.col(src).startswith("<<"))
            names = [f"__qt{i}{slot}_{k}"
                     for k in ("s", "p", "okind", "ovalue", "odt", "olang")]
            for name, col in zip(names, quoted_components(F.col(src))):
                df = df.withColumn(name, col)
            df = df.where(F.col(names[0]).isNotNull())
            lits[names[3]] = (names[2], names[4], names[5])
            place(term[1], names[0], slot + "s")
            place(term[2], names[1], slot + "p")
            place(term[3], names[3], slot + "o")
        elif _is_var(term):
            var = term[1:]
            bind(var, src)
            if lc and var in capture:
                capture.discard(var)
                type_proj.extend(
                    F.col(c).alias(f"{TYPED_PREFIX}{var}__{k}")
                    for c, k in zip(lc, ("kind", "datatype", "lang")))
        elif lc and (lit := decode_literal(term)) is not None:
            df = _encoded_literal_filter(df, lit, lc[0], src, *lc[1:])
        else:
            df = df.where(F.col(src) == term)

    if graph_var is not None:
        bind(graph_var, "g")
    for src, term in zip(("s", "p", "o_value"), pat):
        place(term, src, src[0])
    proj = [F.col(src).alias(var) for var, src in cols.items()]
    tk_proj = [src_tk(src).alias(TK_PREFIX + var)
               for var, src in cols.items()] if emit_term_keys else []
    if not proj:  # all-constant pattern: existence check → empty-schema row
        proj = [F.lit(1).alias(f"_exists_{i}")]
    return df.select(*proj, *type_proj, *tk_proj), set(cols)


def _companion_cols(columns) -> list[str]:
    return [c for c in columns if c.startswith(TYPED_PREFIX)]


_COMPANION_REF_RE = re.compile(
    rf"`{TYPED_PREFIX}(\w+?)__(kind|datatype|lang)`")


def patch_companion_refs(sql: str, columns) -> str:
    """Rewrite compiled-SQL references to companion columns that do not
    exist in the given solution table: a variable never bound in object
    position carries no captured kind/datatype/lang — its kind derives
    from the value shape (``_:`` prefix → bnode, else IRI) and its
    lang/datatype are NULL. Lets term-aware filters (sparql.py sweep 10)
    run against subject/predicate/graph variables without capturing
    companions for every position."""
    cols = set(columns)

    def rep(m):
        if m.group(0).strip("`") in cols:
            return m.group(0)
        if m.group(2) == "kind":
            v = f"`{m.group(1)}`"
            return (f"(CASE WHEN {v} IS NULL THEN NULL "
                    f"WHEN startswith({v}, '_:') THEN 'bnode' "
                    f"ELSE 'iri' END)")
        return "CAST(NULL AS STRING)"

    if TYPED_PREFIX in sql:
        sql = _COMPANION_REF_RE.sub(rep, sql)
    return _patch_missing_vars(sql, cols)


def _patch_missing_vars(sql: str, cols: set) -> str:
    """NULL out backticked references to columns absent from the
    solution table ([spec] a variable used in an expression but bound
    nowhere in the pattern is simply UNBOUND — a type error where
    evaluated, never an UNRESOLVED_COLUMN AnalysisException; sweep 37).
    Quote-aware: content inside single-quoted SQL string constants
    (which escape ``\\`` and ``'`` per the compiler's _sql_str) is
    never rewritten."""
    if "`" not in sql:
        return sql
    out = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "\\":
                    j += 2
                    continue
                if sql[j] == "'":
                    j += 1
                    break
                j += 1
            out.append(sql[i:j])
            i = j
            continue
        if ch == "`":
            j = sql.find("`", i + 1)
            if j < 0:
                out.append(sql[i:])
                break
            name = sql[i + 1:j]
            if name in cols or not re.fullmatch(r"\w+", name):
                out.append(sql[i:j + 1])
            else:
                out.append("CAST(NULL AS STRING)")
            i = j + 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def match_bgp(quads: DataFrame, patterns: list[tuple[str, str, str]],
              distinct: bool = True, optimize: bool = True,
              stats: dict[str, int] | None = None,
              with_types: bool = False,
              graph: str | None = None,
              keep_term_keys: bool = False) -> DataFrame:
    """Join all patterns on shared variables; returns one column per
    variable (SPARQL SELECT * semantics over a BGP, set results).

    ``graph`` scopes the match (SPARQL GRAPH clause):
    - None (default): match quads in ANY graph — the rdflib
      ConjunctiveGraph semantics the rest of the pipeline uses;
    - ``"?g"``: named graphs only; the graph name binds to the variable
      (one more join key when patterns must co-occur in one graph);
    - an IRI/bnode-label constant: only that named graph.
    The quad-table filter (g IS NOT NULL / g = const) is pushed into the
    scan by Catalyst like any other pattern constant.
    """
    if not patterns:
        raise ValueError("empty BGP")
    if graph is not None:
        if _is_var(graph):
            quads = quads.where(F.col("g").isNotNull())
        else:
            quads = quads.where(F.col("g") == graph)
    graph_var = graph[1:] if (graph is not None and _is_var(graph)) else None
    order = _order_patterns(patterns, stats) if optimize \
        else list(range(len(patterns)))
    # companions are captured at the ORIGINAL-order first pattern with
    # the var in an object slot, so the emitted datatype does not
    # depend on the join-order heuristic
    first_obj: dict[str, int] = {}
    for i, pat in enumerate(patterns if with_types else []):
        for x in leaves(("qt", *pat), only="o"):
            if _is_var(x):
                first_obj.setdefault(x[1:], i)
    acc = None
    bound: set[str] = set()
    for i in order:
        df, vars_i = _pattern_df(
            quads, i, patterns[i],
            {v for v, j in first_obj.items() if j == i},
            graph_var=graph_var, emit_term_keys=keep_term_keys)
        if acc is None:
            acc, bound = df, vars_i
            continue
        shared = sorted(bound & vars_i)
        if shared:
            # join on (value, term_key) — exact TERM equality per
            # [spec] §18.3 (sweep 37: value-only joins matched "a"
            # with "a"@en and literals with same-lexical IRIs)
            keys = shared + [TK_PREFIX + v for v in shared
                             if TK_PREFIX + v in acc.columns
                             and TK_PREFIX + v in df.columns]
            acc = acc.join(df, on=keys, how="inner")
        else:
            acc = acc.crossJoin(df)  # disconnected pattern groups
        bound |= vars_i
    extra = _companion_cols(acc.columns) if with_types else []
    tks = sorted(c for c in acc.columns if c.startswith(TK_PREFIX))
    acc = acc.select(*sorted(bound), *sorted(extra), *tks) if bound \
        else acc
    if distinct:
        acc = acc.distinct()   # term-level: term keys are in scope
    if not keep_term_keys and tks:
        acc = acc.drop(*tks)
    return acc


def _values_cell(cell: str | None) -> str | None:
    """A kwargs VALUES cell as an engine term spelling: ``None`` (UNDEF),
    an encoded literal, a ``_:`` label or an IRI-shaped string stays as
    it is; any other bare string is a plain literal."""
    if cell is None or cell.startswith("_:") or IRI_SHAPE.match(cell) \
            or decode_literal(cell) is not None:
        return cell
    return encode_literal(cell)


def match_bgp_extended(quads: DataFrame,
                       patterns: list[tuple[str, str, str]],
                       optional: list[tuple[str, str, str]] | None = None,
                       filters: list[str] | None = None,
                       union: list[list[tuple[str, str, str]]] | None = None,
                       values: tuple[list[str], list[tuple]] | None = None,
                       not_exists: list[tuple[str, str, str]] | None = None,
                       minus: list[tuple[str, str, str]] | None = None,
                       distinct: bool = True,
                       stats: dict[str, int] | None = None,
                       with_types: bool = False,
                       graph: str | None = None) -> DataFrame:
    """BGP + the SPARQL constructs a graph user reaches for beyond
    conjunction, as keyword arguments. They build one group graph
    pattern, evaluated by the SPARQL group evaluator
    (``sparql._eval_group``), so answers follow the spec's solution
    compatibility ([spec] §18.3): terms join as terms, and an unbound
    variable is compatible with any value.

    - ``optional``: each pattern is its own ``OPTIONAL { pattern }``; a
      pattern sharing no variable with the ones before it raises
      ValueError;
    - ``filters``: SQL boolean expressions over the variable columns
      (SPARQL FILTER), e.g. ``"conf > 0.5"``, applied over the whole
      group, so they can test optional bindings with ``IS NOT NULL``;
    - ``union``: alternative pattern groups, ``{patterns} UNION {g}``
      for each group ``g``; a variable missing from a branch is unbound
      (NULL) in that branch's rows;
    - ``values``: inline bindings ``(var_names, rows)`` (SPARQL VALUES).
      A cell is an IRI, a ``_:`` label, an :func:`encode_literal`
      spelling or ``None`` (UNDEF); any other bare string is read as a
      plain literal (``encode_literal(cell)``). A row may be a bare cell
      when there is one variable;
    - ``not_exists``: ``FILTER NOT EXISTS { group }``; with no shared
      variable, any match of the group removes every solution;
    - ``minus``: ``MINUS { group }``; with no shared variable it removes
      nothing (the spec's domain-disjointness rule).

    ``graph`` scopes every pattern as :func:`match_bgp` does. The result
    has one column per variable, sorted, plus the sorted ``__typ_*``
    companions when ``with_types``; ``distinct`` compares terms, not
    lexical forms.
    """
    from .sparql import Group, _eval_group
    elements: list = [("bgp", list(patterns))]
    if union:
        elements = [("union", [Group(elements)] + [
            Group([("bgp", list(g))]) for g in union])]
    bound = {v for grp in [patterns, *(union or [])] for t in grp
             for v in _pattern_vars(t)}
    for i, pat in enumerate(optional or []):
        if not bound & _pattern_vars(pat):
            raise ValueError(
                f"optional pattern {i} shares no variable with the BGP")
        bound |= _pattern_vars(pat)
        elements.append(("optional", Group([("bgp", [pat])])))
    if values is not None:
        names, rows = values
        elements.append(("values", list(names), [
            tuple(_values_cell(c) for c in
                  (r if isinstance(r, (tuple, list)) else (r,)))
            for r in rows]))
    if not_exists:
        elements.append(("exists", Group([("bgp", list(not_exists))]),
                         False))
    if minus:
        elements.append(("minus", Group([("bgp", list(minus))])))
    elements += [("filter", sql) for sql in filters or []]
    sols = _eval_group(quads, Group(elements), graph=graph,
                       with_types=with_types, stats=stats)
    tks = sorted(c for c in sols.columns if c.startswith(TK_PREFIX))
    companions = _companion_cols(sols.columns)
    sols = sols.select(
        *sorted(set(sols.columns) - set(tks) - set(companions)),
        *(sorted(companions) if with_types else []), *tks)
    if distinct:
        sols = sols.distinct()   # term-level: term keys are in scope
    return sols.drop(*tks)


def construct(quads: DataFrame,
              where: list[tuple[str, str, str]],
              template: list[tuple[str, str, str]],
              optional: list[tuple[str, str, str]] | None = None,
              filters: list[str] | None = None) -> DataFrame:
    """SPARQL-CONSTRUCT-style graph transformation: match the WHERE BGP,
    instantiate each template triple per solution, emit a NEW quad table
    (default graph, deduplicated — graphs are sets, G4).

    Template positions are ``?var`` references or constants. A variable
    in object position re-emits with its ORIGINAL kind/datatype/language
    (threaded through the solution as companion columns), so a literal
    that happens to look like "mailto:x" stays a literal and typed
    literals keep their datatype. Variables that were only ever bound in
    subject/predicate position are IRIs-or-bnodes by construction and are
    classified by their ``_:`` prefix. Object CONSTANTS are classified by
    shape: absolute-IRI-looking → IRI, else xsd:string literal (the
    documented caveat for constants only).
    """
    sols = match_bgp_extended(quads, where, optional=optional,
                              filters=filters, distinct=True,
                              with_types=True)
    return instantiate_template(sols, template) \
        .dropDuplicates(QUAD_KEY_COLS)


def _star_escape_col(c):
    """JVM twin of the star.py table-spelling literal escaping
    (backslash FIRST; matches operators/star.py term_to_star)."""
    for raw, esc in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                     ("\r", "\\r"), ("\t", "\\t")):
        c = F.replace(c, F.lit(raw), F.lit(esc))
    return c


_XSD = "http://www.w3.org/2001/XMLSchema#"
_NUM_DTS = {"bigint": _XSD + "integer", "int": _XSD + "integer",
            "double": _XSD + "double", "float": _XSD + "double",
            "boolean": _XSD + "boolean"}


def _typed_lit(dtypes: dict, var: str) -> str | None:
    """The datatype of a TYPED solution column (numeric aggregate
    alias, boolean BIND), which is statically a literal; None for a
    string column (a term spelled by its value and companions)."""
    t = dtypes.get(var)
    if t is None or t == "string":
        return None
    if t.startswith("decimal"):
        return _XSD + "decimal"
    return _NUM_DTS.get(t, XSD_STRING)


def _num_str_sql(sql: str, cls) -> str:
    """STR() of a computed numeric: integer class renders without the
    double's trailing '.0'; decimal class drops '.0' for whole values
    (xsd:decimal lexicals don't require a point); float/double keep
    the double lexical (the documented formatting deviation)."""
    i = f"CAST(CAST({sql} AS BIGINT) AS STRING)"
    d = f"CAST({sql} AS STRING)"
    whole = f"(CASE WHEN ({sql}) = CAST(({sql}) AS BIGINT) " \
            f"THEN {i} ELSE {d} END)"
    if isinstance(cls, int):
        return i if cls == 0 else (whole if cls == 1 else d)
    return (f"(CASE WHEN {cls} = 0 THEN {i} "
            f"WHEN {cls} = 1 THEN {whole} ELSE {d} END)")


def _typed_term(dtypes: dict, var: str):
    """``(lexical, datatype)`` columns of a TYPED solution column. A
    computed numeric is a DOUBLE whose ``__typ_`` datatype companion,
    when captured, carries its promoted class: the literal takes that
    datatype and STR()'s lexical form (``?v * 2`` over an xsd:integer
    is ``"6"^^xsd:integer``, not ``"6.0"^^xsd:double``)."""
    comp = f"{TYPED_PREFIX}{var}__datatype"
    dt = F.lit(_typed_lit(dtypes, var))
    if comp not in dtypes or dtypes[var] == "boolean":
        return F.col(var).cast("string"), dt
    cls = (f"(CASE `{comp}` WHEN '{_XSD}integer' THEN 0 "
           f"WHEN '{_XSD}decimal' THEN 1 ELSE 3 END)")
    return (F.expr(_num_str_sql(f"`{var}`", cls)),
            F.coalesce(F.col(comp), dt))


def _qt_template_col(term: tuple, dtypes: dict):
    """Template quoted-triple term → a column building its star.py
    table spelling from the current solution row (SPARQL 1.2 annotation
    blocks / quoted templates in CONSTRUCT and Update). Components are
    vars (a typed column as a literal of its datatype, else spelled by
    their type companions when captured), constants (spelled by
    ``star.term_to_star``), or nested quoted terms."""
    def leaf(pos):
        if not _is_var(pos):
            enc = decode_literal(pos)
            if enc is not None:
                val, elang, edt = enc
                t = (LIT, val, edt, elang)
            elif pos.startswith("_:"):
                t = (BNODE, pos[2:])
            else:
                t = (IRI, pos) if IRI_SHAPE.match(pos) \
                    else (LIT, pos, None, None)
            return F.lit(term_to_star(t))
        var = pos[1:]
        v = F.col(var)
        if _typed_lit(dtypes, var) is not None:
            lex, dt = _typed_term(dtypes, var)
            return F.concat(F.lit('"'), lex, F.lit('"^^<'), dt, F.lit(">"))
        shape = F.when(v.startswith("_:"), F.lit("bnode")) \
            .when(v.startswith("<<"), F.lit("triple")) \
            .otherwise(F.lit("iri"))
        if f"{TYPED_PREFIX}{var}__kind" in dtypes:
            kind = F.coalesce(F.col(f"{TYPED_PREFIX}{var}__kind"), shape)
            dt = F.col(f"{TYPED_PREFIX}{var}__datatype")
            lang = F.col(f"{TYPED_PREFIX}{var}__lang")
        else:
            kind = shape
            dt = F.lit(None).cast("string")
            lang = F.lit(None).cast("string")
        lit_sp = F.concat(F.lit('"'), _star_escape_col(v), F.lit('"'))
        lit_sp = F.when(lang.isNotNull(),
                        F.concat(lit_sp, F.lit("@"), lang)) \
            .when(dt.isNotNull() & (dt != XSD_STRING),
                  F.concat(lit_sp, F.lit("^^<"), dt, F.lit(">"))) \
            .otherwise(lit_sp)
        return (F.when(kind == "literal", lit_sp)
                .when(kind == "bnode", v)
                .when(kind == "triple", v)     # already a spelling
                .otherwise(F.concat(F.lit("<"), v, F.lit(">"))))

    return map_leaves(term, leaf, lambda s, p, o: F.concat(
        F.lit("<< "), s, F.lit(" "), p, F.lit(" "), o, F.lit(" >>")))


def instantiate_template(sols: DataFrame,
                         template: list[tuple[str, str, str]],
                         graph: str | None = None) -> DataFrame:
    """Instantiate CONSTRUCT template triples over an arbitrary solution
    table (one column per variable, optional ``__typ_*`` companions) —
    the template half of :func:`construct`, reusable by callers that
    build their solution set some other way (e.g. the SPARQL text
    front-end's group-graph-pattern evaluator).

    ``graph`` names the target graph for every produced quad: ``None``
    (default graph), a constant IRI, or a ``?var`` bound in ``sols``
    (rows where it is unbound are skipped, mirroring s/p/o) — used by
    SPARQL Update's ``GRAPH {}`` template blocks. The quads are not
    deduplicated: a caller that needs a set drops duplicates once, on
    ``QUAD_KEY_COLS``."""
    dtypes = dict(sols.dtypes)
    # a TYPED solution column (numeric aggregate alias, boolean BIND)
    # is statically a literal — valid in object position only
    # (sweep 39: a COUNT-valued subquery alias in subject position
    # emitted an 'iri'-spelled literal subject)
    if graph is None:
        g_col = F.lit(None).cast("string")
    elif _is_var(graph):
        g_col = F.col(graph[1:])
    else:
        g_col = F.lit(graph)

    out = None
    for s, p, o in template:
        if any(_is_var(x) and _typed_lit(dtypes, x[1:]) is not None
               for x in leaves(("qt", s, p, o), only="sp")) \
                or (graph is not None and _is_var(graph)
                    and _typed_lit(dtypes, graph[1:]) is not None):
            continue    # literal subject/predicate/graph — never valid
        def _subj(pos):
            if isinstance(pos, tuple) and pos[0] == "qt":
                # quoted-triple template term (annotation blocks /
                # '<< … >>' in CONSTRUCT/Update templates): build the
                # star.py table spelling from the solution row
                return _qt_template_col(pos, dtypes)
            return F.col(pos[1:]) if _is_var(pos) else F.lit(pos)

        s_col, p_col = _subj(s), _subj(p)
        if isinstance(o, tuple) and o[0] == "qt":
            o_col = _qt_template_col(o, dtypes)
            kind = F.lit("triple")
            dt = F.lit(None).cast("string")
            lang = F.lit(None).cast("string")
        elif _is_var(o) and _typed_lit(dtypes, o[1:]) is not None:
            # typed computed column in object position: a literal of
            # the column's promoted datatype, value as its lexical form
            o_col, dt = _typed_term(dtypes, o[1:])
            kind = F.when(o_col.isNotNull(), F.lit("literal"))
            dt = F.when(o_col.isNotNull(), dt)
            lang = F.lit(None).cast("string")
        elif _is_var(o):
            var = o[1:]
            o_col = F.col(var)
            shape_kind = F.when(o_col.startswith("_:"), F.lit("bnode")) \
                .otherwise(F.lit("iri"))
            if f"{TYPED_PREFIX}{var}__kind" in dtypes:
                # companions can be NULL when the var's object binding
                # came from an unmatched OPTIONAL but the value itself is
                # bound via a required s/p position → fall back to shape
                # (s/p terms are IRIs-or-bnodes by construction)
                kind = F.coalesce(F.col(f"{TYPED_PREFIX}{var}__kind"),
                                  shape_kind)
                dt = F.col(f"{TYPED_PREFIX}{var}__datatype")
                lang = F.col(f"{TYPED_PREFIX}{var}__lang")
            else:  # bound only in s/p position → IRI or bnode
                kind = shape_kind
                dt = F.lit(None).cast("string")
                lang = F.lit(None).cast("string")
        elif (enc := decode_literal(o)) is not None:
            # lang/datatype-carrying literal constant (encode_literal);
            # engine identity convention (jsonld/tordf.py): tagged →
            # rdf:langString, plain → explicit xsd:string
            val, elang, edt = enc
            o_col = F.lit(val)
            kind = F.lit("literal")
            dt = F.lit(RDF_LANGSTRING if elang
                       else (edt or XSD_STRING)).cast("string")
            lang = F.lit(elang).cast("string")
        else:
            o_col = F.lit(o)
            is_iri = F.lit(o).rlike(r"^([A-Za-z][A-Za-z0-9+.-]*:|_:)")
            kind = (F.when(F.lit(o).startswith("_:"), F.lit("bnode"))
                    .when(is_iri, F.lit("iri")).otherwise(F.lit("literal")))
            dt = F.when(~is_iri, F.lit(XSD_STRING)).otherwise(
                F.lit(None).cast("string"))
            lang = F.lit(None).cast("string")
        # positions cast to their lexical string form: a typed BIND
        # alias (boolean/numeric column) in a template position would
        # otherwise make this part's column typed and the cross-part
        # unionByName insert a crashing ANSI string cast (sweep 39)
        g_col, s_col, p_col, o_col = (c.cast("string") for c in
                                      (g_col, s_col, p_col, o_col))
        # [spec] CONSTRUCT §16.2 / Update §3.1.3: instantiations that
        # would not be valid RDF are SKIPPED — a template var bound to
        # a literal cannot take a subject, predicate or graph slot, and
        # a bnode cannot be a predicate, in a quoted triple too (sweep
        # 39: a literal-bound ?s emitted a literal-subject quad spelled
        # as an IRI)
        ok = s_col.isNotNull() & p_col.isNotNull() & o_col.isNotNull()
        for slot, kinds in (("s", ("iri", "bnode", "triple")),
                            ("p", ("iri",))):
            for x in leaves(("qt", s, p, o), only=slot):
                if not _is_var(x):
                    continue
                kc = f"{TYPED_PREFIX}{x[1:]}__kind"
                if kc in dtypes:
                    ok &= F.coalesce(F.col(kc), F.lit("iri")).isin(*kinds)
                if slot == "p":
                    ok &= ~F.col(x[1:]).startswith("_:")
        if graph is not None and _is_var(graph):
            ok &= g_col.isNotNull()
            gkc = f"{TYPED_PREFIX}{graph[1:]}__kind"
            if gkc in dtypes:
                ok &= F.coalesce(F.col(gkc), F.lit("iri")) \
                    .isin("iri", "bnode")
        row = sols.where(ok).select(
            g_col.alias("g"),
            s_col.alias("s"),
            s_col.startswith("_:").alias("s_is_bnode"),
            p_col.alias("p"),
            kind.alias("o_kind"),
            o_col.alias("o_value"),
            dt.alias("o_datatype"),
            lang.alias("o_lang"),
        )
        out = row if out is None else out.unionByName(row)
    if out is None:
        # every template triple was statically invalid (typed-literal
        # subject/predicate) — an empty quad table
        return local_frame(sols.sparkSession, [], CORE_SCHEMA)
    return out
