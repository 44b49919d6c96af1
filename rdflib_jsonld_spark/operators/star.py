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
On the JVM side :func:`quoted_components` decomposes the spelling —
one ``regexp_extract`` projection, no Python in the row path. One level
of nesting is decomposable per call (apply again to go deeper);
arbitrarily nested spellings still round-trip as opaque strings.

Quoted triple PATTERNS (``("qt", s, p, o)`` terms, SPARQL-star
``<< s p o >>``) are matched by the one BGP compiler, ``bgp.match_bgp``,
which places their components on these decomposed columns.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..jsonld import keys
from ..jsonld.nquads import QT
from ..jsonld.tordf import BNODE, IRI

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
