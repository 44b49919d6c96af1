"""SPARQL SELECT solution modifiers + aggregation over BGP solution sets.

Completes the query surface above ``operators/bgp.py``: a solution
table (one column per variable, as produced by match_bgp or by the one
group-pattern evaluator ``sparql._eval_group``, which match_bgp_extended
and the SPARQL text front-end both call) goes through the SPARQL 1.1
SELECT pipeline — BIND, GROUP BY + aggregates, HAVING, projection,
DISTINCT, ORDER BY, OFFSET/LIMIT — each mapped to its one natural
DataFrame operation so Catalyst owns the physical plan:

- aggregates compile to hash aggregation with map-side partials
  (count/sum/min/max/avg are whole-stage-codegen builtins);
- ORDER BY + LIMIT compiles to TakeOrdered (no global sort at scale);
- BIND/HAVING are SQL expressions → pushed/pruned by the optimizer.

Parity: SPARQL 1.1 Query §10 (aggregates), §15 (solution modifiers)
[spec]. The reference checkout carries no query engine (rdflib owns
SPARQL), so this layer is pipeline-extension breadth per SURVEY §2's
G-rows, not checkout parity.

Documented deviations (each the deterministic choice inside what the
spec leaves implementation-defined or the common all-bound case):
- SAMPLE picks the MINIMUM of the group (any group member is a valid
  SAMPLE; min makes reruns and the DuckDB oracle reproducible);
- GROUP_CONCAT sorts group members before joining (spec: order
  undefined);
- ORDER BY keys must survive projection (SPARQL lets them reference
  non-projected variables);
- OFFSET/LIMIT without ORDER BY is as nondeterministic as the spec
  allows — order first if you need stable pagination.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

_XSD = "http://www.w3.org/2001/XMLSchema#"
_NUMERIC_DTS = tuple(
    _XSD + t for t in (
        "integer", "decimal", "float", "double", "long", "int", "short",
        "byte", "nonNegativeInteger", "nonPositiveInteger",
        "negativeInteger", "positiveInteger", "unsignedLong",
        "unsignedInt", "unsignedShort", "unsignedByte"))

__all__ = ["select_solutions", "sparql_select"]

def _sql_var_refs(sql: str) -> list[str]:
    """Solution-variable column references in a compiled SQL fragment —
    quote-aware (single-quoted constants are skipped), companions /
    term keys / EXISTS markers excluded."""
    out, i, n = [], 0, len(sql)
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
            i = j
            continue
        if ch == "`":
            j = sql.find("`", i + 1)
            if j < 0:
                break
            name = sql[i + 1:j]
            if not name.startswith(("__typ_", "__tk_", "__exs_")) \
                    and re.fullmatch(r"\w+", name):
                out.append(name)
            i = j + 1
            continue
        i += 1
    return list(dict.fromkeys(out))


_AGG_FNS = frozenset({
    "count", "count_distinct", "sum", "sum_distinct", "avg",
    "avg_distinct", "min", "max",
    "sample", "group_concat", "group_concat_distinct",
})


def _v(name: str) -> str:
    """'?x' or 'x' → column name 'x'."""
    return name[1:] if name.startswith("?") else name


def _term_sort_sql(col_sql: str, kind_sql: str | None = None) -> str:
    """Total-order sort key for a STRING solution column ([spec] SPARQL
    1.1 §15.1): unbound < blank nodes < IRIs < literals (numeric
    literals by value before the rest lexically). Sweep 10: plain
    min/max/orderBy compared lexically, so MIN("9","10") returned "10".
    Sweep 20: when the var's kind companion survives (``kind_sql``),
    the spec's term-KIND order applies; without it the shape heuristic
    ('_:' prefix → bnode, else IRI) only separates the kinds a
    companion-less var (subject/graph position, BIND output) can mix —
    uniform within one column, so relative order there is unchanged."""
    cast = f"try_cast({col_sql} AS DOUBLE)"
    if kind_sql is None:
        kind_sql = (f"(CASE WHEN startswith({col_sql}, '_:') "
                    f"THEN 'bnode' ELSE 'iri' END)")
    kindflag = (f"CASE WHEN {col_sql} IS NULL THEN 0 "
                f"WHEN {kind_sql} = 'bnode' THEN 1 "
                f"WHEN {kind_sql} = 'iri' THEN 2 ELSE 3 END")
    numflag = f"CASE WHEN {cast} IS NOT NULL THEN 0 ELSE 1 END"
    return f"struct({kindflag}, {numflag}, {cast}, {col_sql})"


def _agg_col(fn: str, arg: str, alias: str, sep: str,
             dtypes: dict[str, str] | None = None) -> Column:
    fn = fn.lower()
    if fn not in _AGG_FNS:
        raise ValueError(f"unknown aggregate {fn!r} (one of {sorted(_AGG_FNS)})")
    if arg == "*":
        if fn == "count":
            return F.count(F.lit(1)).alias(alias)
        if fn == "count_distinct":  # COUNT(DISTINCT *): distinct rows
            cols = sorted(dtypes) if dtypes else []
            return F.countDistinct(
                F.struct(*[F.col(c) for c in cols])).alias(alias)
        raise ValueError(f"'*' argument only valid for count, got {fn}")
    m = re.fullmatch(r"`(\w+)`|\??(\w+)", arg)
    var = (m.group(1) or m.group(2)) if m else None
    col = F.col(var) if var else F.expr(arg)
    if fn in ("sum", "avg", "sum_distinct", "avg_distinct"):
        # [spec] SPARQL 1.1 §18.5.1.2/.4 (sweep 20): a type error on ANY
        # group element errors the WHOLE aggregate → unbound, instead of
        # SQL's silent skip (SUM(41, "young") was returning 41). Numeric
        # interpretation stays try_cast (module convention, docstring);
        # unbound elements are skipped (the pragmatic major-engine
        # behavior for OPTIONAL-bound vars). §18.5.1.2 defines Sum of
        # the empty multiset as 0 and §18.5.1.4 Avg of it as 0 (ADVICE
        # r04: we used to return NULL for DuckDB parity) — so a clean
        # group with no numeric elements coalesces to 0; only the
        # error-poisoned case stays unbound. DuckDB oracles for such
        # groups need coalesce(sum(x), 0).
        col_sql = f"`{var}`" if var else f"({arg})"
        num = F.expr(f"try_cast({col_sql} AS DOUBLE)")
        # error detection per element: a plain-var element errors when
        # BOUND but non-numeric; an EXPRESSION element errors when its
        # referenced vars are all bound yet the value is NULL (sweep
        # 37: (?d * 0) with ?d an IRI evaluated to NULL and was
        # silently SKIPPED like an unbound element, where the spec's
        # type error poisons the aggregate)
        if var:
            errish = col.isNotNull() & num.isNull()
        else:
            refs = _sql_var_refs(arg)
            bound = F.lit(True)
            for v_ in refs:
                bound = bound & F.col(v_).isNotNull()
            errish = (bound & col.isNull()) | \
                (col.isNotNull() & num.isNull())
        # coalesce: max() over the ZERO-ROW global group is NULL, which
        # made `bad == 0` fall through to unbound — but §18.3 evaluates
        # aggregates over one empty group when the pattern has no
        # solutions, so Sum/Avg must still be 0 there (sweep 32)
        bad = F.coalesce(
            F.max(F.when(errish, F.lit(1)).otherwise(F.lit(0))),
            F.lit(0))
        if fn.endswith("_distinct"):
            # SUM/AVG(DISTINCT ?x): dedup at numeric-VALUE level —
            # consistent with the module's try_cast value convention
            # (the spec dedups terms; "1"^^xsd:integer vs
            # "1.0"^^xsd:double collapsing is the documented deviation)
            agg = F.expr(f"{fn[:-9]}(DISTINCT "
                         f"try_cast({col_sql} AS DOUBLE))")
        else:
            agg = F.sum(num) if fn == "sum" else F.avg(num)
        return F.when(bad == F.lit(0), F.coalesce(agg, F.lit(0.0))) \
            .otherwise(F.lit(None).cast("double")).alias(alias)
    if fn == "count":
        return F.count(col).alias(alias)  # non-NULL count, per spec
    if fn == "count_distinct":
        return F.countDistinct(col).alias(alias)
    if fn == "sample":
        return F.min(col).alias(alias)
    if fn in ("group_concat", "group_concat_distinct"):
        col = col.cast("string")
        lst = F.collect_set(col) if fn.endswith("distinct") \
            else F.collect_list(col)
        return F.array_join(F.sort_array(lst), sep).alias(alias)
    if fn in ("min", "max") and var and dtypes is not None \
            and dtypes.get(var) == "string":
        # term-aware extremum over lexical solution columns
        c = f"`{var}`"
        agg = "min_by" if fn == "min" else "max_by"
        return F.expr(f"{agg}({c}, {_term_sort_sql(c)}) "
                      f"FILTER (WHERE {c} IS NOT NULL)").alias(alias)
    return getattr(F, fn)(col).alias(alias)


def select_solutions(sol: DataFrame, *,
                     bind: list[tuple[str, str]] | None = None,
                     group_by: list[str] | None = None,
                     aggregates: list[tuple] | None = None,
                     having: list[str] | None = None,
                     project: list[str] | None = None,
                     distinct: bool = False,
                     order_by: list[str] | None = None,
                     offset: int | None = None,
                     limit: int | None = None,
                     group_concat_sep: str = " ",
                     keep_companions: bool = False) -> DataFrame:
    """Apply the SPARQL SELECT pipeline to a solution table.

    - ``bind``: ``[(sql_expr, var), …]`` — SPARQL BIND, evaluated in
      order (later binds may reference earlier ones);
    - ``group_by``: grouping variables; ``aggregates`` without
      ``group_by`` is the spec's single implicit group;
    - ``aggregates``: ``[(fn, arg, alias), …]`` with fn ∈ count /
      count_distinct / sum / avg / min / max / sample / group_concat /
      group_concat_distinct and arg a variable, ``"*"`` (count only),
      or a SQL expression;
    - ``having``: SQL boolean expressions over group keys + aliases;
    - ``project``: output variables/aliases (default: all columns);
    - ``distinct`` / ``order_by`` (``"?x"`` or ``"desc(?x)"``) /
      ``offset`` / ``limit``: the §15 modifiers, applied in spec order.
    """
    from .bgp import patch_companion_refs
    # A projected / grouped / aggregated / ordered variable the WHERE
    # clause never binds is simply UNBOUND ([spec] §18.2.4 projection
    # over a variable not in scope yields unbound cells) — materialize
    # it as a NULL column instead of letting Spark raise
    # UNRESOLVED_COLUMN (sweep 37).
    _plain = [p for p in project or []] + [g for g in group_by or []]
    for fn_, arg_, _al in aggregates or []:
        if arg_ != "*":
            m = re.fullmatch(r"`(\w+)`|\??(\w+)", str(arg_))
            if m:
                _plain.append(m.group(1) or m.group(2))
    for k in order_by or []:
        if not isinstance(k, tuple):
            m = re.fullmatch(r"(asc|desc)\((.+)\)", k.strip(), re.I)
            _plain.append(m.group(2) if m else k.strip())
    bound = {_v(v) for _e, v in bind or []}
    bound |= {al for _f, _a, al in aggregates or []}
    for name in dict.fromkeys(_v(p) for p in _plain):
        if name not in sol.columns and name not in bound:
            sol = sol.withColumn(name, F.lit(None).cast("string"))
    for expr, var in bind or []:
        sol = sol.withColumn(
            _v(var), F.expr(patch_companion_refs(expr, sol.columns)))
    if aggregates:
        _typed_mode = any(c.startswith("__typ_") for c in sol.columns)
        dtypes = {n: t for n, t in sol.dtypes
                  if not n.startswith("__typ_")}
        aggs = [_agg_col(fn,
                         arg if arg == "*" else
                         patch_companion_refs(arg, sol.columns),
                         alias, group_concat_sep, dtypes)
                for fn, arg, alias in aggregates]
        # MIN/MAX over a plain variable with captured companions is
        # TERM-aware ([spec] §18.5.1.5-6 via the §15.1/§17.3 ordering,
        # sweep 37): aggregate a (numeric-value, lexical, companions)
        # struct so numeric groups order by VALUE ("9" < "10") and the
        # winning TERM — typing included — survives the aggregation.
        # Cross-kind groups order implementation-defined (spec leaves
        # them undefined).
        mm_unpack = []
        _vre = re.compile(r"`(\w+)`|\?(\w+)|(\w+)")
        for i, (fn, arg, alias) in enumerate(aggregates):
            if fn not in ("min", "max"):
                continue
            m = _vre.fullmatch(str(arg))
            var = (m.group(1) or m.group(2) or m.group(3)) if m else None
            if not var or var not in sol.columns \
                    or f"__typ_{var}__kind" not in sol.columns \
                    or dict(sol.dtypes).get(var) != "string":
                continue
            k = F.col(f"__typ_{var}__kind")
            lg = F.col(f"__typ_{var}__lang")
            d = F.col(f"__typ_{var}__datatype")
            num_ord = F.when(
                (k == "literal") & lg.isNull()
                & d.isin(*_NUMERIC_DTS),
                F.expr(f"try_cast(`{var}` AS DOUBLE)"))
            st = F.when(F.col(var).isNotNull(), F.struct(
                num_ord.alias("o1"), F.col(var).alias("v"),
                k.alias("k"), lg.alias("lg"), d.alias("d")))
            agg = F.min(st) if fn == "min" else F.max(st)
            aggs[i] = agg.alias(f"__mm_{alias}")
            mm_unpack.append(alias)
        if group_by:
            # group keys are TERMS ([spec] §18.5.1, sweep 37): "a" and
            # "a"@en form separate groups — the __tk_ term keys join
            # the grouping; group-key companions survive via any_value
            # (term-functional up to storage spelling) so projection
            # keeps exact typing
            gvars = [_v(g) for g in group_by]
            have = set(sol.columns)
            gkeys = list(gvars) + [f"__tk_{v}" for v in gvars
                                   if f"__tk_{v}" in have]
            for v in gvars:
                for w in ("kind", "lang", "datatype"):
                    cc = f"__typ_{v}__{w}"
                    if cc in have:
                        aggs.append(F.any_value(F.col(cc)).alias(cc))
            sol = sol.groupBy(*gkeys).agg(*aggs)
        else:
            sol = sol.agg(*aggs)
        from .bgp import term_key_col
        for alias in mm_unpack:
            s = F.col(f"__mm_{alias}")
            sol = (sol
                   .withColumn(alias, s["v"])
                   .withColumn(f"__typ_{alias}__kind", s["k"])
                   .withColumn(f"__typ_{alias}__lang", s["lg"])
                   .withColumn(f"__typ_{alias}__datatype", s["d"])
                   .withColumn(f"__tk_{alias}",
                               F.when(s["v"].isNotNull(),
                                      term_key_col(s["k"], s["d"],
                                                   s["lg"])))
                   .drop(f"__mm_{alias}"))
        if _typed_mode:
            # GROUP_CONCAT returns a plain string LITERAL ([spec]
            # §18.5.1.7) — without companions the downstream shape
            # heuristic misread a result starting '_:' as a bnode
            # (sweep 38)
            null_s = F.lit(None).cast("string")
            for fn, _arg, alias in aggregates:
                if fn.startswith("group_concat"):
                    sol = (sol
                           .withColumn(f"__typ_{alias}__kind",
                                       F.when(F.col(alias).isNotNull(),
                                              F.lit("literal")))
                           .withColumn(f"__typ_{alias}__lang", null_s)
                           .withColumn(f"__typ_{alias}__datatype",
                                       null_s))
    elif group_by:
        raise ValueError("group_by requires at least one aggregate")
    for expr in having or []:
        sol = sol.where(F.expr(patch_companion_refs(expr, sol.columns)))
    # ORDER BY semantically precedes projection ([spec] §18.2.2.5-6);
    # sorting runs last for Spark's sake, so the kind companions of
    # ordered vars are carried through projection and dropped after the
    # sort — §15.1's term-kind order (unbound < bnode < IRI < literal)
    # needs them (sweep 20).
    _order_vars = []
    _expr_order_vars = []
    for k in order_by or []:
        if not isinstance(k, tuple):
            m = re.fullmatch(r"(asc|desc)\((.+)\)", k.strip(), re.I)
            _order_vars.append(_v(m.group(2) if m else k.strip()))
        else:
            # expression keys (sweep 37): their compiled SQL dispatches
            # on companion columns — carry the referenced vars AND all
            # three companions through projection, else the patched
            # shape-fallback mis-kinds object literals as IRIs
            for m in re.finditer(r"`(\w+)`", k[1]):
                if not m.group(1).startswith("__typ_"):
                    _expr_order_vars.append(m.group(1))
    _carried: list[str] = []
    _tk_keys: list[str] = []
    if project:
        cols = [_v(c) for c in project]
        if keep_companions:
            # retain the projected vars' kind/lang/datatype companions
            # (when still present — aggregation drops them) so result
            # serializers type terms exactly; note DISTINCT then
            # correctly dedups at TERM level, not lexical level
            have = set(sol.columns)
            cols += [cc for c in list(cols)
                     for cc in (f"__typ_{c}__kind", f"__typ_{c}__lang",
                                f"__typ_{c}__datatype") if cc in have]
        have = set(sol.columns)
        # carry ORDER BY vars (and their kind companions) through the
        # projection even when unprojected: a dropped order var would
        # otherwise resolve through Spark's missing-reference rule as a
        # plain column and sort LEXICALLY, bypassing _term_sort_sql
        # (found by the sparql golden corpus, order-numeric-value).
        _carried = []
        for n in _order_vars:
            if n not in cols and n in have:
                _carried.append(n)
            kc = f"__typ_{n}__kind"
            if (n in cols or n in _carried) and kc in have \
                    and kc not in cols:
                _carried.append(kc)
        for n in dict.fromkeys(_expr_order_vars):
            if n not in cols and n not in _carried and n in have:
                _carried.append(n)
            if n in cols or n in _carried:
                for w in ("kind", "lang", "datatype"):
                    cc = f"__typ_{n}__{w}"
                    if cc in have and cc not in cols \
                            and cc not in _carried:
                        _carried.append(cc)
        requested = list(cols)
        # carry the requested vars' TERM KEYS through projection so
        # DISTINCT dedups at TERM level ([spec] §18.2.2.2 solutions of
        # terms — sweep 37: "a" and "a"@en collapsed into one row)
        if distinct:
            for n in requested:
                tk = f"__tk_{n}"
                if tk in have and tk not in cols and tk not in _carried:
                    _carried.append(tk)
                if tk in have:
                    _tk_keys.append(tk)
        sol = sol.select(*(cols + _carried))
    if distinct:
        # distinctness runs over requested columns + their term keys —
        # other carried sort companions must not split duplicate groups
        sol = sol.dropDuplicates(requested + _tk_keys) if _carried \
            else sol.distinct()
    if order_by:
        keys = []
        dtypes = dict(sol.dtypes)
        for k in order_by:
            if isinstance(k, tuple):   # ("expr", sql, "asc"|"desc")
                _, sql, d = k
                col = F.expr(patch_companion_refs(sql, sol.columns))
                keys.append(col.desc() if d == "desc" else col.asc())
                continue
            m = re.fullmatch(r"(asc|desc)\((.+)\)", k.strip(), re.I)
            name = _v(m.group(2) if m else k.strip())
            # STRING solution columns order term-aware (§15.1 kind
            # order when the kind companion survives, numeric value
            # before lexical form — sweeps 10/20); typed columns
            # natively
            kind_c = f"__typ_{name}__kind"
            col = F.expr(_term_sort_sql(
                f"`{name}`",
                f"`{kind_c}`" if kind_c in dtypes else None)) \
                if dtypes.get(name) == "string" else F.col(name)
            keys.append(col.desc() if m and m.group(1).lower() == "desc"
                        else col.asc())
        sol = sol.orderBy(*keys)
    if _carried:
        sol = sol.drop(*_carried)
    if offset:
        sol = sol.offset(offset)
    if limit is not None:
        sol = sol.limit(limit)
    return sol


def sparql_select(quads: DataFrame, patterns: list[tuple[str, str, str]],
                  *, optional=None, filters=None, union=None, values=None,
                  not_exists=None, minus=None, graph=None, stats=None,
                  **modifiers) -> DataFrame:
    """Full SELECT query form: match_bgp_extended WHERE clause (a group
    pattern evaluated by ``sparql._eval_group``) + select_solutions
    modifiers, one call. ``modifiers`` are
    select_solutions keyword arguments. The WHERE solution set stays
    non-distinct (bag semantics) so aggregates count multiplicities,
    matching the spec's default; pass ``distinct=True`` for set results."""
    from .bgp import match_bgp_extended
    sol = match_bgp_extended(
        quads, patterns, optional=optional, filters=filters, union=union,
        values=values, not_exists=not_exists, minus=minus,
        distinct=False, stats=stats, graph=graph)
    return select_solutions(sol, **modifiers)
