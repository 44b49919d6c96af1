"""RDF-star quoted triples on the quad table — Spark-first.

RDF-star ([spec] RDF-star W3C CG report 2021 / RDF 1.2 Concepts WD,
"quoted triples"; no reference counterpart — the checkout long predates
RDF-star) lets a triple itself be the subject or object of another
triple (`<< :a :p :o >> :certainty 0.9 .`), the standard shape for
statement-level provenance/confidence metadata — exactly what a KG
construction pipeline attaches to extracted mentions.

Table encoding
==============
A quoted term occupies one STRING cell in its canonical flat spelling

    << <s-iri> <p-iri> "lex"^^<dt> >>      (bnodes as _:label, raw)

- object position: ``o_kind = "triple"``, ``o_value`` = the spelling;
- subject position: ``s`` = the spelling (unambiguous — IRIs cannot
  contain '<', labels cannot start with it), ``s_is_bnode = False``.

Component spellings match the table's own column conventions (bnodes
``_:label`` raw, literal lexicals unescaped on extraction), so a
decomposed component equi-joins the plain ``s``/``o_value`` columns
directly. The quad-table term codec (operators/expand.py
``quad_to_cells`` / ``cells_to_quad``) is the one producer and consumer
of cell spellings on the Python side: every reader and term-tuple
writer goes through it, and it spells quoted terms with
:func:`term_to_star` and reads them back with the N-Quads term parser.
On the JVM side :func:`with_quoted_components` decomposes the spelling
— one ``regexp_extract`` projection, no Python in the row path. One
level of nesting is decomposable per call (apply again to go deeper);
arbitrarily nested spellings still round-trip as opaque strings.

``match_quoted(quads, inner, pred, annot_var)`` is the SPARQL-star BGP
primitive: rows whose SUBJECT is a quoted triple matching the
``(s, p, o)`` inner pattern (constants filter, ``?vars`` bind) with the
outer predicate/object following the plain pattern convention.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..jsonld import keys
from ..jsonld.nquads import QT
from ..jsonld.tordf import BNODE, IRI, LIT

XSD_STRING = keys.XSD_STRING


def term_to_star(t: tuple) -> str:
    """Pure-core quad-tuple term → canonical table spelling of a quoted
    triple component (used recursively for the quoted term itself)."""
    kind = t[0]
    if kind == IRI:
        return f"<{t[1]}>"
    if kind == BNODE:
        return f"_:{t[1]}"
    if kind == QT:
        s, p, o = t[1]
        return (f"<< {term_to_star(s)} {term_to_star(p)} "
                f"{term_to_star(o)} >>")
    _, lex, dt, lang = t
    esc = (lex.replace("\\", "\\\\").replace('"', '\\"')
           .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t"))
    base = f'"{esc}"'
    if lang:
        return f"{base}@{lang}"
    if dt and dt != XSD_STRING:
        return f"{base}^^<{dt}>"
    return base


#: quoted-triple spelling — subject (iri|bnode|NESTED quoted spelling),
#: predicate iri, object (iri|bnode|literal[^^dt|@lang]). One nesting
#: level is peeled per application: a nested SUBJECT is captured as its
#: whole '<< … >>' spelling (group 3; greedy, re-anchored by the
#: trailing ' <pred> obj >>') for quoted_components to decompose again.
#: Nested OBJECT positions stay unmatched (not produced by the
#: annotation syntax; use the kwargs surface).
_STAR_RE = (
    r'^<< (?:<([^>]*)>|(_:[^\s<">]+)|(<< .* >>))'
    r' <([^>]*)>'
    r' (?:<([^>]*)>|(_:[^\s<">]+)'
    r'|"((?:[^"\\]|\\.)*)"'
    r'(?:\^\^<([^>]*)>|@([a-zA-Z]+(?:-[a-zA-Z0-9]+)*))?) >>$'
)


def _unescape_col(c: Column) -> Column:
    """JVM unescape of the five writer ECHARs: backslash pairs first via
    a \\x00 sentinel so '\\\\n' stays a literal backslash-n."""
    c = F.replace(c, F.lit("\\\\"), F.lit("\x00"))
    for raw, out in (("\\n", "\n"), ("\\r", "\r"), ("\\t", "\t"),
                     ('\\"', '"')):
        c = F.replace(c, F.lit(raw), F.lit(out))
    return F.replace(c, F.lit("\x00"), F.lit("\\"))


def quoted_components(col: Column) -> list[Column]:
    """STRING column of quoted-triple spellings → the component columns
    ``[qs, qp, qo_kind, qo_value, qo_datatype, qo_lang]`` (all NULL when
    the cell is not a quoted spelling). A NESTED quoted subject comes
    back as its own '<< … >>' spelling in ``qs`` — apply again to peel
    the next level (one level per call)."""
    g = [F.regexp_extract(col, _STAR_RE, i) for i in range(1, 10)]
    is_q = col.rlike(_STAR_RE)
    qs = F.when(is_q, F.when(g[1] != "", g[1])
                .when(g[2] != "", g[2]).otherwise(g[0]))
    qp = F.when(is_q, g[3])
    has_lit = is_q & (g[4] == "") & (g[5] == "")
    qo_kind = F.when(has_lit, F.lit("literal")) \
        .when(is_q & (g[5] != ""), F.lit("bnode")) \
        .when(is_q, F.lit("iri"))
    qo_value = F.when(has_lit, _unescape_col(g[6])) \
        .when(is_q & (g[5] != ""), g[5]).when(is_q, g[4])
    qo_dt = F.when(has_lit & (g[7] != ""), g[7]) \
        .when(has_lit & (g[8] != ""),
              F.lit(keys.RDF_LANGSTRING)) \
        .when(has_lit, F.lit(XSD_STRING))
    qo_lang = F.when(has_lit & (g[8] != ""), F.lower(g[8]))
    return [qs, qp, qo_kind, qo_value, qo_dt, qo_lang]


def with_quoted_components(quads: DataFrame, source: str = "s",
                           prefix: str = "q") -> DataFrame:
    """Add ``{prefix}s/{prefix}p/{prefix}o_kind/{prefix}o_value/
    {prefix}o_datatype/{prefix}o_lang`` columns decomposing the quoted
    spelling in ``source`` ('s' or 'o_value'); NULL for plain rows."""
    comps = quoted_components(F.col(source))
    names = ["s", "p", "o_kind", "o_value", "o_datatype", "o_lang"]
    out = quads
    for name, c in zip(names, comps):
        out = out.withColumn(f"{prefix}{name}", c)
    return out


def _is_var(x: str) -> bool:
    return isinstance(x, str) and x.startswith("?")


def match_quoted(quads: DataFrame, inner: tuple[str, str, str],
                 pred: str, obj: str) -> DataFrame:
    """SPARQL-star BGP primitive: ``<< inner >> pred obj`` over rows
    whose subject is a quoted triple. ``inner`` is an (s, p, o) pattern
    (constants in table spelling, ``?vars`` bind); ``pred``/``obj``
    follow the plain pattern convention. Returns one column per bound
    variable, set semantics."""
    rows = quads.where(F.col("s").startswith("<<"))
    rows = with_quoted_components(rows, "s", "__q_")
    proj: list = []
    conds: list = []
    for pat, col in ((inner[0], "__q_s"), (inner[1], "__q_p"),
                     (inner[2], "__q_o_value")):
        if _is_var(pat):
            proj.append(F.col(col).alias(pat[1:]))
        else:
            conds.append(F.col(col) == pat)
    for pat, col in ((pred, "p"), (obj, "o_value")):
        if _is_var(pat):
            proj.append(F.col(col).alias(pat[1:]))
        else:
            conds.append(F.col(col) == pat)
    for c in conds:
        rows = rows.where(c)
    if not proj:
        return rows.select(F.lit(1).alias("_exists")).limit(1)
    return rows.select(*proj).distinct()
