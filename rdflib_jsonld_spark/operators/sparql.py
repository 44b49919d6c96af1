"""SPARQL 1.1 text front-end: query string → DataFrame plan.

Everything below the text layer already exists as composable DataFrame
algebra — BGP joins (operators/bgp.py), property paths
(operators/paths.py), solution modifiers + aggregation
(operators/solutions.py), CONSTRUCT templates
(bgp.instantiate_template). This module adds the missing piece for a
user coming from rdflib: ``graph.query("SELECT ...")`` — a tokenizer +
recursive-descent parser for the SPARQL 1.1 query language ([spec]
SPARQL 1.1 Query §19 grammar) and a group-graph-pattern evaluator that
compiles the parse tree onto those operators, so Catalyst still owns
every physical decision (the parser never executes anything — it only
declares the logical plan).

Supported surface (the subset a pipeline user actually types):

- Prologue: ``PREFIX`` / ``BASE``; ``a`` ≡ rdf:type.
- Query forms: ``SELECT [DISTINCT] (?v | (expr AS ?v) | *)``, ``ASK``,
  ``CONSTRUCT { template }``, ``DESCRIBE (?v|<iri>)+ [WHERE ...]``.
- Group graph patterns: triple blocks with ``;``/``,`` elision,
  property paths in predicate position (full §9.1 grammar via
  operators/paths.py ASTs), ``OPTIONAL``, ``{A} UNION {B}``,
  ``FILTER`` (expressions, ``EXISTS``/``NOT EXISTS`` groups),
  ``MINUS``, ``BIND (expr AS ?v)``, inline ``VALUES``,
  ``GRAPH (?g|<iri>) { ... }`` scoping, and sub-SELECTs
  (``{ SELECT ... }`` with full modifiers; only projected variables
  are visible outside, per §12 — typed companions do not cross the
  boundary).
- Solution modifiers: ``GROUP BY`` (variables or ``(expr AS ?var)``),
  ``HAVING``, ``ORDER BY [ASC|DESC]`` over variables or bracketted
  expressions, ``LIMIT``/``OFFSET``, aggregates COUNT /
  COUNT DISTINCT / SUM / AVG / MIN / MAX / SAMPLE / GROUP_CONCAT
  (with SEPARATOR).
- Expressions: ``&&  ||  !  =  !=  <  <=  >  >=  IN  NOT IN``,
  arithmetic, and the builtins BOUND STR STRLEN UCASE LCASE CONTAINS
  STRSTARTS STRENDS STRBEFORE STRAFTER SUBSTR CONCAT REPLACE REGEX ABS
  CEIL FLOOR ROUND COALESCE IF LANG DATATYPE LANGMATCHES ISBLANK ISIRI
  ISURI ISLITERAL ISNUMERIC SAMETERM ENCODE_FOR_URI IRI/URI MD5 SHA1
  SHA256 SHA384 SHA512 YEAR MONTH DAY HOURS MINUTES SECONDS TZ
  TIMEZONE STRDT STRLANG + ``xsd:*`` casts — each compiled to a Spark
  SQL expression (JVM whole-stage codegen; no Python in the filter
  path). STRDT/STRLANG construct real TERMS (constant tag/datatype):
  term-aware ``=``/``!=`` folds the tags at compile time, and a BIND /
  projection alias carries kind/lang/datatype companion columns so
  LANG/DATATYPE/isLiteral keep working through the alias.

Documented deviations (deterministic choices / v1 restrictions, each
raising a clear error rather than silently mis-answering):

- Group patterns follow the spec's solution compatibility ([spec]
  §18.3): joins, OPTIONAL, VALUES and EXISTS / MINUS compare TERMS
  (value plus the ``__tk_*`` term key: kind, language tag, datatype
  with xsd:string ≡ plain), and an unbound (NULL) variable is
  compatible with any value. ``_eval_group`` is the only evaluator of
  this algebra; the kwargs surface (``bgp.match_bgp_extended``) builds
  a ``Group`` and calls it.
- SPARQL's type-error-is-false filter semantics are approximated with
  ``try_cast``: a failed numeric coercion yields NULL which drops the
  row — the same observable outcome for comparisons.
- Numeric coercion rule: an arithmetic operand or a comparison operand
  facing a numeric expression is wrapped in ``try_cast(· AS DOUBLE)``;
  everything else compares as strings (canonical lexical forms make
  equality exact).
- ``SUM``/``AVG`` aggregate over ``try_cast(· AS DOUBLE)``;
  MIN/MAX over non-numeric terms use string ordering.
- ``LANG``/``DATATYPE``/``ISIRI``/``ISLITERAL`` require object-position
  type companions; the evaluator turns them on automatically when the
  query mentions them.
- Blank-node labels in WHERE act as internal variables (``_:b`` →
  ``?__bn_b``, per spec); ``[...]`` property lists and ``(...)``
  collections desugar to fresh anonymous nodes; CONSTRUCT-template
  bnodes mint one fresh bnode per solution (label-scoped to the
  template, per §16.2.1).
- Property paths inside ``GRAPH ?var`` are rejected (constant graph
  scoping works).

Scale: identical posture to the kwargs surface — every construct maps
to the same joins/aggregations Catalyst already optimizes; ASK compiles
to ``limit(1)`` + count (no full materialization); DESCRIBE's bnode
closure runs bounded semi-join rounds.

Parity note: the reference checkout is the v0.6.2 tombstone and rdflib
itself owns SPARQL, so this layer is pipeline-extension breadth (the
operator a switching rdflib user reaches for first), not checkout
parity — same §2-G classification as operators/solutions.py.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from .bgp import (TK_PREFIX, TYPED_PREFIX, _companion_cols, _is_var,
                  _num_str_sql, _pattern_vars, decode_literal,
                  encode_literal, instantiate_template, leaves, map_leaves,
                  match_bgp, patch_companion_refs, term_key_of)
from .expand import QUAD_KEY_COLS
from ..plans.driver import local_frame
from .paths import match_path
from .rounds import frontier_rounds
from .solutions import select_solutions

__all__ = ["sparql", "parse_query", "SparqlError"]

_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = _RDF_NS + "type"
XSD = "http://www.w3.org/2001/XMLSchema#"


class SparqlError(ValueError):
    """Parse or unsupported-feature error with position context."""


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"""
    (?P<WS>\s+|\#[^\n]*)
  | (?P<IRIREF><[^<>"{}|^`\\\s]*>)
  | (?P<VAR>[?$][A-Za-z_]\w*)
  | (?P<BNODE>_:[A-Za-z_]\w*)
  | (?P<STRING>"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
  | (?P<LANGTAG>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
  | (?P<NUMBER>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<PNAME>(?:[A-Za-z_][\w-]*)?:[A-Za-z_]?[\w.-]*)
  | (?P<NAME>[A-Za-z_]\w*)
  | (?P<OP>\^\^|&&|\|\||!=|<=|>=|[{}().,;*/|^+?=<>!\[\]-])
""", re.X)


@dataclass
class Tok:
    kind: str   # IRIREF VAR BNODE STRING NUMBER PNAME NAME OP LITERAL
    text: str   # surface text (IRIREF without <>, VAR without ?/$)
    lang: str | None = None
    datatype: str | None = None
    pos: int = 0


def _unescape(s: str) -> str:
    return (s.replace("\\t", "\t").replace("\\n", "\n")
             .replace("\\r", "\r").replace('\\"', '"')
             .replace("\\'", "'").replace("\\\\", "\\"))


def _tokenize(q: str) -> list[Tok]:
    toks: list[Tok] = []
    i, n = 0, len(q)
    while i < n:
        m = _TOKEN_RE.match(q, i)
        if not m:
            raise SparqlError(f"cannot tokenize at ...{q[i:i + 30]!r}")
        kind = m.lastgroup
        text = m.group()
        i = m.end()
        if kind == "WS":
            continue
        if kind == "IRIREF":
            toks.append(Tok("IRIREF", text[1:-1], pos=m.start()))
        elif kind == "VAR":
            toks.append(Tok("VAR", text[1:], pos=m.start()))
        elif kind == "STRING":
            toks.append(Tok("STRING", _unescape(text[1:-1]), pos=m.start()))
        elif kind == "LANGTAG":
            if toks and toks[-1].kind == "STRING":
                toks[-1].lang = text[1:].lower()
            else:
                raise SparqlError(f"stray language tag {text!r}")
        else:
            toks.append(Tok(kind, text, pos=m.start()))
    # fold  STRING ^^ datatype  into the string token
    out: list[Tok] = []
    j = 0
    while j < len(toks):
        t = toks[j]
        if (t.kind == "STRING" and j + 2 < len(toks)
                and toks[j + 1].kind == "OP" and toks[j + 1].text == "^^"
                and toks[j + 2].kind in ("IRIREF", "PNAME")):
            t.datatype = toks[j + 2].text   # pname expanded later
            out.append(t)
            j += 3
        else:
            out.append(t)
            j += 1
    return out


# ---------------------------------------------------------------------------
# parse tree
# ---------------------------------------------------------------------------

# Group elements (evaluated in document order):
#   ("bgp", [(s, p, o)])          p: "?var" | constant IRI | path AST tuple
#   ("optional", Group)
#   ("union", [Group, ...])
#   ("filter", sql: str)
#   ("exists", Group, positive: bool)
#   ("minus", Group)
#   ("bind", sql: str, var: str)
#   ("values", [vars], [rows])
#   ("graph", term: str, Group)   term: "?var" | constant IRI


@dataclass
class Group:
    elements: list = field(default_factory=list)
    #: EXISTS groups embedded in expressions (sweep 37): marker column
    #: name → (Group, positive). The evaluator materializes each marker
    #: as a boolean column (compatibility semi-join) right before the
    #: first filter/bind whose SQL references it.
    exists_defs: dict = field(default_factory=dict)


@dataclass
class Query:
    form: str                       # select | ask | construct | describe
    where: Group
    distinct: bool = False
    project: list | None = None     # [("var", name) | ("expr", sql, name)
                                    #  | ("agg", fn, arg, name)]
    select_star: bool = False
    template: list | None = None    # construct triples
    describe_terms: list | None = None   # ["?v" | iri]
    group_by: list | None = None
    group_binds: list | None = None  # [(sql, "?var")] from (expr AS ?v)
    keep_types: bool = False        # keep __typ_* companions in SELECT out
    having: list | None = None      # raw token slices, compiled later
    order_by: list | None = None
    limit: int | None = None
    offset: int | None = None
    needs_types: bool = False
    post_values: tuple | None = None   # trailing VALUES clause (§10.2)


_KEYWORDS = {
    "SELECT", "ASK", "CONSTRUCT", "DESCRIBE", "WHERE", "FROM", "PREFIX",
    "BASE", "DISTINCT", "REDUCED", "OPTIONAL", "UNION", "FILTER", "MINUS",
    "BIND", "VALUES", "GRAPH", "AS", "GROUP", "BY", "HAVING", "ORDER",
    "ASC", "DESC", "LIMIT", "OFFSET", "UNDEF", "IN", "NOT", "EXISTS",
    "SERVICE",
    # SPARQL 1.1 Update (operators/update.py builds on this parser)
    "INSERT", "DELETE", "DATA", "WITH", "USING",
    "LOAD", "SILENT", "INTO", "CLEAR", "DROP", "CREATE", "ADD", "TO",
    "COPY", "MOVE", "DEFAULT", "NAMED", "ALL",
}

_AGG_TEXT = {
    "COUNT": "count", "SUM": "sum", "AVG": "avg", "MIN": "min",
    "MAX": "max", "SAMPLE": "sample", "GROUP_CONCAT": "group_concat",
}

_TYPE_FNS = {"LANG", "DATATYPE", "ISIRI", "ISURI", "ISLITERAL",
             "ISNUMERIC", "ISBLANK"}

#: xsd numeric datatypes ([spec] SPARQL 1.1 §17.4.2.4 isNumeric — the
#: operand types of the operator mapping plus the derived-integer tree)
_NUMERIC_DATATYPES = tuple(
    "http://www.w3.org/2001/XMLSchema#" + t for t in (
        "integer", "decimal", "float", "double", "long", "int", "short",
        "byte", "nonNegativeInteger", "nonPositiveInteger",
        "negativeInteger", "positiveInteger", "unsignedLong",
        "unsignedInt", "unsignedShort", "unsignedByte"))


class SqlTag:
    """A lang (or datatype) slot of a ``lit``/``termx`` expression node
    holding a SQL EXPRESSION rather than a compile-time constant —
    produced by string functions that propagate their first argument's
    language tag ([spec] §17.4.3, sweep 24). Consumers (companion
    binds, term-aware ``=``, LANG/DATATYPE) render it in SQL instead
    of folding at compile time."""

    __slots__ = ("sql",)

    def __init__(self, sql: str):
        self.sql = sql


def _tag_sql(tag) -> str:
    """Render a lang/datatype slot (None | constant str | SqlTag) as a
    SQL expression."""
    if tag is None:
        return "CAST(NULL AS STRING)"
    if isinstance(tag, SqlTag):
        return tag.sql
    return _sql_str(tag)


class _Parser:
    def __init__(self, query: str):
        self.q = query
        self.toks = _tokenize(query)
        self.pos = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.needs_types = False
        self._anon_n = 0   # fresh labels for [...] / (...) nodes
        self._group_stack: list[Group] = []   # open groups (EXISTS defs)
        self._exs_n = 0    # fresh EXISTS marker columns (sweep 37)

    # --- token helpers -----------------------------------------------------
    def peek(self, ahead: int = 0) -> Tok | None:
        k = self.pos + ahead
        return self.toks[k] if k < len(self.toks) else None

    def at_kw(self, *words: str) -> bool:
        t = self.peek()
        return (t is not None and t.kind == "NAME"
                and t.text.upper() in words)

    def take(self) -> Tok:
        if self.pos >= len(self.toks):
            raise SparqlError("unexpected end of query")
        t = self.toks[self.pos]
        self.pos += 1
        return t

    def expect_op(self, op: str) -> None:
        t = self.take()
        if t.kind != "OP" or t.text != op:
            raise SparqlError(f"expected {op!r}, got {t.text!r} "
                              f"at char {t.pos} in query")

    def expect_kw(self, word: str) -> None:
        t = self.take()
        if t.kind != "NAME" or t.text.upper() != word:
            raise SparqlError(f"expected {word}, got {t.text!r}")

    # --- terms -------------------------------------------------------------
    def expand_pname(self, pname: str, pos: int = 0) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise SparqlError(f"undeclared prefix {pfx!r}: at char {pos}")
        return self.prefixes[pfx] + local

    def resolve_iri(self, iri: str) -> str:
        if self.base and not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", iri):
            return self.base + iri
        return iri

    def term(self, t: Tok) -> str:
        """Token → pattern-position string (engine binding convention)."""
        if t.kind == "VAR":
            return "?" + t.text
        if t.kind == "IRIREF":
            return self.resolve_iri(t.text)
        if t.kind == "PNAME":
            return self.expand_pname(t.text, t.pos)
        if t.kind == "BNODE":
            return "?__bn_" + t.text[2:]     # bnode label = scoped variable
        if t.kind == "STRING":
            # exact-term pattern constant ([spec] §5.2 / sweep 10: the
            # tag/datatype was dropped, so "x"@en matched every lexical
            # "x"; sweep 37: a PLAIN "x" still matched "x"@fr and
            # "x"^^<dt> by lexical form — the text front-end encodes
            # every literal so the BGP layer's exact-term filter runs.
            # The kwargs surface keeps its lexical-form convention.)
            return encode_literal(
                t.text, lang=t.lang,
                datatype=self._expand_datatype(t.datatype)
                if t.datatype else None)
        if t.kind == "NUMBER":
            # numeric shorthand is a TYPED literal ([spec] SPARQL 1.1
            # §4.1.2) — sweep 11: templates emitted xsd:string and
            # patterns matched any same-lexical value
            lex = _canon_number(t.text)
            if re.fullmatch(r"[+-]?\d+", t.text):
                dt = XSD + "integer"
            elif "e" in t.text.lower():
                dt = XSD + "double"
            else:
                dt = XSD + "decimal"
            return encode_literal(lex, datatype=dt)
        if t.kind == "NAME":
            if t.text == "a":
                return RDF_TYPE
            if t.text in ("true", "false"):
                return encode_literal(t.text, datatype=XSD + "boolean")
        raise SparqlError(f"unexpected term {t.text!r} at char {t.pos}")

    def _expand_datatype(self, raw: str) -> str:
        """``^^`` datatype token text → IRI (pname or <iri> form)."""
        try:
            return self.expand_pname(raw)
        except SparqlError:
            return self.resolve_iri(raw)

    # --- prologue ----------------------------------------------------------
    def parse_prologue(self) -> None:
        while self.at_kw("PREFIX", "BASE"):
            kw = self.take().text.upper()
            if kw == "PREFIX":
                ns = self.take()
                if ns.kind != "PNAME" or not ns.text.endswith(":"):
                    raise SparqlError(f"bad PREFIX name {ns.text!r}")
                iri = self.take()
                if iri.kind != "IRIREF":
                    raise SparqlError("PREFIX needs an <iri>")
                self.prefixes[ns.text[:-1]] = self.resolve_iri(iri.text)
            else:
                iri = self.take()
                if iri.kind != "IRIREF":
                    raise SparqlError("BASE needs an <iri>")
                self.base = iri.text

    # --- property paths in predicate position ------------------------------
    def parse_path(self):
        node = self._path_seq()
        while self._is_op("|"):
            self.take()
            node = ("alt", node, self._path_seq()) \
                if node[0] != "alt" else (*node, self._path_seq())
        return node

    def _path_seq(self):
        node = self._path_postfix()
        while self._is_op("/"):
            self.take()
            node = ("seq", node, self._path_postfix()) \
                if node[0] != "seq" else (*node, self._path_postfix())
        return node

    def _path_postfix(self):
        node = self._path_primary()
        while self._is_op("*") or self._is_op("+") or self._is_op("?"):
            node = {"*": "star", "+": "plus", "?": "opt"}[self.take().text], node
        return node

    def _path_primary(self):
        if self._is_op("^"):
            self.take()
            return ("inv", self._path_primary())
        if self._is_op("!"):
            self.take()
            fwd: list[str] = []
            rev: list[str] = []

            def one_member():
                if self._is_op("^"):
                    self.take()
                    rev.append(self._path_iri())
                else:
                    fwd.append(self._path_iri())

            if self._is_op("("):
                self.take()
                one_member()
                while self._is_op("|"):
                    self.take()
                    one_member()
                self.expect_op(")")
            else:
                one_member()   # paren-less !iri / !^iri form
            # [spec] §18.2.2.3: !(f…|^r…) = alt(NPS(f…), inv(NPS(r…)))
            # (sweep 10: inverse members were a parse error)
            parts = ([("nps", tuple(fwd))] if fwd else []) \
                + ([("inv", ("nps", tuple(rev)))] if rev else [])
            return parts[0] if len(parts) == 1 else ("alt", *parts)
        if self._is_op("("):
            self.take()
            node = self.parse_path()
            self.expect_op(")")
            return node
        return ("link", self._path_iri())

    def _path_iri(self) -> str:
        t = self.take()
        if t.kind == "IRIREF":
            return self.resolve_iri(t.text)
        if t.kind == "PNAME":
            return self.expand_pname(t.text, t.pos)
        if t.kind == "NAME" and t.text == "a":
            return RDF_TYPE
        raise SparqlError(f"expected IRI in path, got {t.text!r}")

    def _is_op(self, op: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == "OP" and t.text == op

    # --- triples block -----------------------------------------------------
    def _fresh_anon(self) -> str:
        """Internal variable for a ``[...]``/``(...)`` node — labels
        cannot start with a digit, so ``0a<n>`` never collides with a
        user ``_:label``."""
        self._anon_n += 1
        return f"?__bn_0a{self._anon_n}"

    def _node(self, triples: list[tuple]) -> str:
        """GraphNode ([spec] grammar [103]-[104]): a plain term, a
        ``[...]`` blank-node property list, or a ``(...)`` collection
        (rdf:first/rdf:rest chain) — the bracketed forms desugar to a
        fresh anonymous node plus triples appended to ``triples``."""
        t = self.peek()
        if (t is not None and t.kind == "OP" and t.text == "<"
                and (n := self.peek(1)) is not None
                and n.kind == "OP" and n.text == "<"):
            # RDF-star quoted pattern '<< s p o >>' ([spec] SPARQL-star
            # CG report / SPARQL 1.2 WD): compiles to a ("qt", s, p, o)
            # pattern term the BGP layer decomposes against the star.py
            # table spelling. Inner terms are plain terms or variables
            # (nested quoted patterns: use the kwargs surface).
            self.take(), self.take()
            qs = self.term(self.take())
            pt = self.peek()
            if pt is not None and pt.kind == "NAME" and pt.text == "a":
                self.take()
                qp = _RDF_NS + "type"
            else:
                qp = self.term(self.take())
            qo = self.term(self.take())
            for _ in range(2):
                tk = self.take()
                if tk.kind != "OP" or tk.text != ">":
                    raise SparqlError(
                        f"expected '>>' closing quoted pattern, got "
                        f"{tk.text!r} at char {tk.pos}")
            return ("qt", qs, qp, qo)
        if t is not None and t.kind == "OP" and t.text == "[":
            self.take()
            node = self._fresh_anon()
            if not self._is_op("]"):
                self._parse_po_list(node, triples)
            self.expect_op("]")
            return node
        if t is not None and t.kind == "OP" and t.text == "(":
            self.take()
            items = []
            while not self._is_op(")"):
                items.append(self._node(triples))
            self.take()
            if not items:
                return _RDF_NS + "nil"
            head = cur = self._fresh_anon()
            for i, item in enumerate(items):
                triples.append((cur, _RDF_NS + "first", item))
                nxt = (self._fresh_anon() if i + 1 < len(items)
                       else _RDF_NS + "nil")
                triples.append((cur, _RDF_NS + "rest", nxt))
                cur = nxt
            return head
        return self.term(self.take())

    def _parse_po_list(self, subj: str, triples: list[tuple]) -> None:
        """PropertyListNotEmpty: ``p o, o2 ; p2 o3 ...`` onto ``subj``."""
        while True:
            pt = self.peek()
            if pt is None:
                raise SparqlError("triple missing predicate")
            if pt.kind == "VAR":
                pred = "?" + self.take().text
            else:
                ast = self.parse_path()
                pred = ast[1] if ast[0] == "link" else ast
            while True:
                obj = self._node(triples)
                triples.append((subj, pred, obj))
                # SPARQL 1.2 annotation block '{| p2 o2 ; ... |}'
                # ([spec] SPARQL 1.2 WD / SPARQL-star CG "annotation
                # syntax"): sugar for a po-list whose subject is the
                # quoted base triple — the query twin of JSON-LD-star's
                # @annotation. Nested blocks recurse naturally (the
                # inner po-list's objects take their own blocks).
                while (self._is_op("{")
                        and (n2 := self.peek(1)) is not None
                        and n2.kind == "OP" and n2.text == "|"):
                    if not isinstance(pred, str):
                        raise SparqlError(
                            "annotation block on a property path has "
                            "no single base triple to annotate")
                    self.take(), self.take()
                    self._parse_po_list(("qt", subj, pred, obj), triples)
                    tk = self.take()
                    if tk is None or tk.kind != "OP" or tk.text != "|":
                        raise SparqlError(
                            "expected '|}' closing annotation block")
                    self.expect_op("}")
                if self._is_op(","):
                    self.take()
                    continue
                break
            if self._is_op(";"):
                self.take()
                # allow trailing ';' before '.', a closing bracket, or
                # an annotation block's '|}'
                nxt = self.peek()
                if nxt is None or (nxt.kind == "OP"
                                   and nxt.text in (".", "}", "]", "|")):
                    break
                continue
            break

    def parse_triples(self) -> list[tuple]:
        """SubjectPredicateObject list with ';' and ',' elision."""
        triples: list[tuple] = []
        while True:
            t = self.peek()
            if t is None or (t.kind == "OP" and t.text in ("}",)):
                break
            if t.kind == "NAME" and t.text.upper() in _KEYWORDS:
                break
            if t.kind == "OP" and t.text == "{":
                break
            bracketed = t.kind == "OP" and t.text in ("[", "(")
            n_before = len(triples)
            subj = self._node(triples)
            nxt = self.peek()
            if (bracketed and len(triples) > n_before
                    and (nxt is None or (nxt.kind == "OP"
                                         and nxt.text in (".", "}")))):
                pass   # "[ p o ] ." — the trailing property list is
                # optional after a non-empty bracketed subject
            else:
                self._parse_po_list(subj, triples)
            if self._is_op("."):
                self.take()
                continue
            break
        return triples

    # --- group graph pattern ----------------------------------------------
    def parse_group(self) -> Group:
        self.expect_op("{")
        g = Group()
        self._group_stack.append(g)
        try:
            return self._parse_group_body(g)
        finally:
            self._group_stack.pop()

    def _parse_group_body(self, g: Group) -> Group:
        if self.at_kw("SELECT"):
            # GroupGraphPattern ::= '{' ( SubSelect | ... ) '}' — a
            # sub-SELECT is the ENTIRE content of its enclosing braces.
            sub = self._parse_select()
            self.expect_op("}")
            g.elements.append(("subselect", sub))
            return g
        while not self._is_op("}"):
            if self._is_op("."):      # optional dot between group elements
                self.take()
            elif self.at_kw("OPTIONAL"):
                self.take()
                g.elements.append(("optional", self.parse_group()))
            elif self.at_kw("FILTER"):
                self.take()
                g.elements.append(self._parse_filter())
            elif self.at_kw("MINUS"):
                self.take()
                g.elements.append(("minus", self.parse_group()))
            elif self.at_kw("BIND"):
                self.take()
                self.expect_op("(")
                node = self._parse_expr()
                sql = self._compile_expr(node)
                self.expect_kw("AS")
                v = self.take()
                if v.kind != "VAR":
                    raise SparqlError("BIND needs (expr AS ?var)")
                self.expect_op(")")
                g.elements.append(("bind", sql, v.text))
                for col, csql in self._term_companions(node, v.text):
                    g.elements.append(("bind", csql, col))
                tk = self._term_key_sql(node, v.text)
                if tk is not None:
                    g.elements.append(("bind", tk,
                                       TK_PREFIX + v.text))
            elif self.at_kw("VALUES"):
                self.take()
                g.elements.append(self._parse_values())
            elif self.at_kw("GRAPH"):
                self.take()
                t = self.take()
                if t.kind == "VAR":
                    term = "?" + t.text
                elif t.kind == "IRIREF":
                    term = self.resolve_iri(t.text)
                elif t.kind == "PNAME":
                    term = self.expand_pname(t.text, t.pos)
                else:
                    raise SparqlError(f"GRAPH needs ?var or IRI, "
                                      f"got {t.text!r}")
                g.elements.append(("graph", term, self.parse_group()))
            elif self.at_kw("SERVICE"):
                raise SparqlError(
                    "SERVICE (federation) is not supported by design — "
                    "materialize the remote graph into a quad table "
                    "(read_nquads/read_jsonld_files) and join it as "
                    "data; see README 'Network posture'")
            elif self.at_kw("SELECT"):
                raise SparqlError("a sub-SELECT must be wrapped in its "
                                  "own braces: { SELECT ... }")
            elif self._is_op("{"):
                first = self.parse_group()
                if self.at_kw("UNION"):
                    branches = [first]
                    while self.at_kw("UNION"):
                        self.take()
                        branches.append(self.parse_group())
                    g.elements.append(("union", branches))
                else:   # plain nested group = join
                    g.elements.append(("union", [first]))
                if self._is_op("."):
                    self.take()
            else:
                triples = self.parse_triples()
                if not triples:
                    t = self.peek()
                    if t is None:
                        raise SparqlError(
                            "unexpected end of query inside group "
                            "(missing '}')")
                    raise SparqlError(
                        f"unexpected {t.text!r} in group at char {t.pos}")
                g.elements.append(("bgp", triples))
        self.expect_op("}")
        return g

    def _parse_filter(self):
        neg = False
        if self.at_kw("NOT"):
            self.take()
            self.expect_kw("EXISTS")
            return ("exists", self.parse_group(), False)
        if self.at_kw("EXISTS"):
            self.take()
            return ("exists", self.parse_group(), True)
        del neg
        # The FILTER constraint itself is evaluated through EBV
        # ([spec] §17.2.2) — FILTER(?x) on a bare non-boolean term is
        # a type error (row dropped), not an AnalysisException.
        return ("filter", self._ebv(self._parse_expr()))

    def _parse_values(self):
        multi = self._is_op("(")
        names: list[str] = []
        if multi:
            self.take()
            while not self._is_op(")"):
                v = self.take()
                if v.kind != "VAR":
                    raise SparqlError("VALUES needs variables")
                names.append(v.text)
            self.take()
        else:
            v = self.take()
            if v.kind != "VAR":
                raise SparqlError("VALUES needs a variable")
            names.append(v.text)
        self.expect_op("{")
        rows: list[tuple] = []
        while not self._is_op("}"):
            if multi:
                self.expect_op("(")
                row = []
                while not self._is_op(")"):
                    row.append(self._values_term())
                self.take()
                if len(row) != len(names):
                    raise SparqlError("VALUES row arity mismatch")
                rows.append(tuple(row))
            else:
                rows.append((self._values_term(),))
        self.take()
        return ("values", names, rows)

    def _values_term(self):
        """One DataBlockValue → engine term spelling (encoded literal /
        IRI) or None for UNDEF. Cells carry their full term typing
        (sweep 37: the old lexical narrowing made ("b"@fr) bind a plain
        "b" and lose the tag)."""
        if self.at_kw("UNDEF"):
            self.take()
            return None
        t = self.peek()
        if t is not None and t.kind == "STRING":
            self.take()
            return encode_literal(
                t.text, lang=t.lang,
                datatype=self._expand_datatype(t.datatype)
                if t.datatype else None)
        if t is not None and t.kind == "NUMBER":
            self.take()
            lex = _canon_number(t.text)
            if re.fullmatch(r"[+-]?\d+", t.text):
                dt = XSD + "integer"
            elif "e" in t.text.lower():
                dt = XSD + "double"
            else:
                dt = XSD + "decimal"
            return encode_literal(lex, datatype=dt)
        if t is not None and t.kind == "NAME" and t.text in ("true",
                                                             "false"):
            self.take()
            return encode_literal(t.text, datatype=XSD + "boolean")
        return self.term(self.take())

    # --- expressions → Spark SQL -------------------------------------------
    # AST: ("num", sql) ("str", sql) ("bool", sql) ("any", sql)
    #      where sql is a Spark SQL fragment

    def _parse_expr(self):
        return self._expr_or()

    def _expr_or(self):
        node = self._expr_and()
        while self._is_op("||"):
            self.take()
            node = ("bool", f"({self._ebv(node)} OR "
                    f"{self._ebv(self._expr_and())})")
        return node

    def _expr_and(self):
        node = self._expr_rel()
        while self._is_op("&&"):
            self.take()
            node = ("bool", f"({self._ebv(node)} AND "
                    f"{self._ebv(self._expr_rel())})")
        return node

    def _ebv(self, node) -> str:
        """Effective boolean value ([spec] §17.2.2). Booleans pass
        through; numerics are false at 0/NaN (invalid numeric/boolean
        lexicals are false); string-ish literals are false when empty;
        IRIs, bnodes, unbound, and other typed literals are a type
        error — NULL, which SQL three-valued logic then propagates
        exactly like SPARQL's error semantics (sweep 23: a bare
        non-boolean in FILTER previously raised an AnalysisException)."""
        tag, sql = node[0], node[1]
        if tag == "bool":
            return sql
        if tag == "num":
            return (f"(({sql}) <> 0 AND NOT "
                    f"isnan(CAST(({sql}) AS DOUBLE)))")
        if tag == "str":
            return f"(length({sql}) > 0)"
        xsb = _sql_str(XSD + "boolean")
        xs = _sql_str(XSD + "string")
        num_ebv = (f"coalesce(try_cast({sql} AS DOUBLE) <> 0 AND NOT "
                   f"isnan(try_cast({sql} AS DOUBLE)), false)")
        if tag in ("lit", "termx"):
            lang, dt = node[2], node[3]
            if dt == XSD + "boolean":
                return f"({sql} IN ('true', '1'))"
            if dt in _NUMERIC_DATATYPES:
                return num_ebv
            if dt is None or dt == XSD + "string" or lang:
                return f"(length({sql}) > 0)"
            return "CAST(NULL AS BOOLEAN)"
        if tag in ("iri", "irix"):
            return "CAST(NULL AS BOOLEAN)"
        comps = self._comps_of(node)
        if comps is None:
            return f"(length({sql}) > 0)"
        val, kind, lang, dt = comps
        sql = val
        num_ebv = (f"coalesce(try_cast({sql} AS DOUBLE) <> 0 AND NOT "
                   f"isnan(try_cast({sql} AS DOUBLE)), false)")
        dts = ", ".join(_sql_str(d) for d in _NUMERIC_DATATYPES)
        # kind gates POSITIVELY: a NULL kind (typing unknown — e.g. a
        # row matched through a VALUES UNDEF cell) must error, not fall
        # into the plain-literal branch through dt-NULL ≡ xsd:string
        # (sweep 37: EBV of a bound IRI came back true that way)
        return (f"(CASE WHEN {sql} IS NULL "
                f"OR NOT ({kind} <=> 'literal') "
                f"THEN CAST(NULL AS BOOLEAN) "
                f"WHEN {dt} = {xsb} THEN {sql} IN ('true', '1') "
                f"WHEN {dt} IN ({dts}) THEN {num_ebv} "
                f"WHEN {lang} IS NOT NULL OR coalesce({dt}, {xs}) = {xs} "
                f"THEN length({sql}) > 0 "
                f"ELSE CAST(NULL AS BOOLEAN) END)")

    _REL_OPS = {"=": "=", "!=": "<>", "<": "<", "<=": "<=",
                ">": ">", ">=": ">="}

    def _expr_rel(self):
        node = self._expr_add()
        t = self.peek()
        if t is not None and t.kind == "OP" and t.text in self._REL_OPS:
            op = self._REL_OPS[self.take().text]
            rhs = self._expr_add()
            return self._rel_cmp(node, rhs, op)
        if self.at_kw("IN"):
            self.take()
            return ("bool", self._in_sql(node))
        if self.at_kw("NOT") and self.peek(1) is not None \
                and self.peek(1).kind == "NAME" \
                and self.peek(1).text.upper() == "IN":
            self.take()
            self.take()
            return ("bool", f"(NOT {self._in_sql(node)})")
        return node

    def _rel_cmp(self, node, rhs, op: str):
        """Compile ``node op rhs`` per the [spec] §17.3 operator
        mapping (shared by relational expressions and HAVING
        aggregate comparisons — sweep 38: the HAVING path emitted raw
        SQL, so ``COUNT(?x) <= "2e0"^^xsd:double`` crashed at ANSI
        constant folding instead of comparing by value)."""
        if op in ("=", "<>"):
            eq = self._term_eq_sql(node, rhs)
            if eq is not None:
                return ("bool",
                        f"(NOT {eq})" if op == "<>" else eq)
        node, rhs = _numeric_const(node), _numeric_const(rhs)
        ord_sql = self._term_ord_sql(node, rhs, op)
        if ord_sql is not None:
            return ("bool", ord_sql)
        # computed-vs-computed / constant fallback ([spec] §17.3,
        # sweep 37): only same-class pairs inside the operator
        # mapping compare — previously mixed SQL types (bool vs
        # str, bool vs num) flowed raw and Spark raised
        # DATATYPE_MISMATCH / CAST_INVALID_INPUT at analysis time.
        a2, b2 = _ord_class(node), _ord_class(rhs)
        if a2 is not None and b2 is not None and a2[0] == b2[0]:
            return ("bool", f"({a2[1]} {op} {b2[1]})")
        if op in ("=", "<>") and (
                node[0] in ("iri", "irix")
                or rhs[0] in ("iri", "irix")):
            a_is_iri = node[0] in ("iri", "irix")
            comp = b2 if a_is_iri else a2
            isql = node[1] if a_is_iri else rhs[1]
            if comp is None and node[0] in ("iri", "irix") \
                    and rhs[0] in ("iri", "irix"):
                # IRI vs IRI: term equality by string form
                return ("bool", f"({node[1]} {op} {rhs[1]})")
            if comp is not None and comp[0] == "str":
                # engine convention: STR()/DATATYPE() results are
                # 'str' nodes holding IRI strings — they compare
                # with IRIs by string form (pre-sweep-37 behavior)
                return ("bool", f"({isql} {op} {comp[1]})")
            if comp is not None:
                # RDFterm-equal: an IRI never equals a boolean /
                # numeric literal value — false, NULL-propagating
                res = "false" if op == "=" else "true"
                return ("bool", f"(CASE WHEN ({comp[1]}) IS NULL "
                        f"THEN CAST(NULL AS BOOLEAN) "
                        f"ELSE {res} END)")
        return ("bool", "CAST(NULL AS BOOLEAN)")

    def _in_sql(self, node) -> str:
        """[spec] §17.4.1.9-10: ``e IN (m1, m2)`` ≡ ``e = m1 || e =
        m2`` and NOT IN is its negation — term-aware with ||-style
        error propagation (sweep 26: members compared by lexical form
        only, so ?n IN ("Bob"@en) matched a plain "Bob" and numeric
        members compared as strings)."""
        self.expect_op("(")
        items = []
        if not self._is_op(")"):
            items.append(self._parse_expr())
            while self._is_op(","):
                self.take()
                items.append(self._parse_expr())
        self.expect_op(")")
        if not items:
            return "false"
        nums = ", ".join(_sql_str(d) for d in _NUMERIC_DATATYPES)
        parts = []
        for m in items:
            eq = self._term_eq_sql(node, m)
            if eq is None:
                m2 = _numeric_const(m)
                cn = self._comps_of(node)
                if m2[0] == "num" and cn is not None:
                    # var-like = numeric member: by value for numeric
                    # (or unknown/computed) literals, false for
                    # non-literals, type error otherwise
                    vs, k, lg, d = cn
                    eq = (f"(CASE WHEN {k} <> 'literal' THEN false "
                          f"WHEN {lg} IS NULL AND ({d} IS NULL OR "
                          f"{d} IN ({nums})) THEN "
                          f"try_cast({vs} AS DOUBLE) = {m2[1]} "
                          f"ELSE CAST(NULL AS BOOLEAN) END)")
                else:
                    # computed-vs-computed member: same-class value
                    # compare, else type error (sweep 37 — the raw '='
                    # crashed on mixed SQL types under ANSI)
                    a2 = _ord_class(_numeric_const(node))
                    b2 = _ord_class(m2)
                    if a2 is not None and b2 is not None \
                            and a2[0] == b2[0]:
                        eq = f"({a2[1]} = {b2[1]})"
                    else:
                        eq = "CAST(NULL AS BOOLEAN)"
            parts.append(eq)
        return "(" + " OR ".join(parts) + ")"

    def _term_ord_sql(self, a, b, op: str) -> str | None:
        """Value-based ``<``/``<=``/``>``/``>=`` ([spec] §17.3 operator
        mapping, sweep 25): runtime type dispatch for variable
        operands. Numerics compare by VALUE (lexical "7" < "30" was
        comparing as strings), dateTimes as timestamps, booleans as
        false<true, simple/xsd:string by codepoint; every pairing
        OUTSIDE the operator mapping (lang-tagged strings, mixed
        types, non-literals) is a type error → NULL."""
        if op in ("=", "<>"):
            return None

        xs = _sql_str(XSD + "string")
        nums = ", ".join(_sql_str(d) for d in _NUMERIC_DATATYPES)
        dtt = _sql_str(XSD + "dateTime")
        xsb = _sql_str(XSD + "boolean")
        ca, cb = self._comps_of(a), self._comps_of(b)

        if ca and cb:
            x, ka, la, da0 = ca
            y, kb, lb, db0 = cb
            da = f"coalesce({da0}, {xs})"
            db = f"coalesce({db0}, {xs})"
            return (
                f"(CASE WHEN {ka} <> 'literal' OR {kb} <> 'literal' "
                f"OR {la} IS NOT NULL OR {lb} IS NOT NULL "
                f"THEN CAST(NULL AS BOOLEAN) "
                f"WHEN {da} IN ({nums}) AND {db} IN ({nums}) "
                f"THEN try_cast({x} AS DOUBLE) {op} "
                f"try_cast({y} AS DOUBLE) "
                f"WHEN {da} = {dtt} AND {db} = {dtt} "
                f"THEN try_cast({x} AS TIMESTAMP) {op} "
                f"try_cast({y} AS TIMESTAMP) "
                f"WHEN {da} = {xsb} AND {db} = {xsb} "
                f"THEN ({x} IN ('true', '1')) {op} ({y} IN ('true', '1')) "
                f"WHEN {da} = {xs} AND {db} = {xs} THEN {x} {op} {y} "
                f"ELSE CAST(NULL AS BOOLEAN) END)")

        other = b if ca else (a if cb else None)
        cc = ca or cb
        if cc is not None and other is not None and other[0] == "num":
            # var-like vs numeric expression: an IRI/bnode or a
            # lang-tagged/non-numeric-typed literal is a type error.
            # An UNKNOWN datatype (computed BIND columns, simple
            # literals) keeps the pre-sweep-25 try_cast behavior —
            # documented pragmatic narrowing, an uncastable lexical
            # still errors via try_cast NULL.
            vs, k, lg, draw = cc
            vn = f"try_cast({vs} AS DOUBLE)"
            ls, rs = (vn, other[1]) if ca else (other[1], vn)
            return (f"(CASE WHEN {k} = 'literal' AND {lg} IS NULL "
                    f"AND ({draw} IS NULL OR {draw} IN ({nums})) "
                    f"THEN {ls} {op} {rs} "
                    f"ELSE CAST(NULL AS BOOLEAN) END)")
        if cc is not None and other is not None \
                and other[0] in ("str", "bool", "termx", "iri"):
            # var-like vs computed string/boolean expression or a
            # constructed term (sweep 37: these fell through to a raw
            # SQL comparison — bool-vs-string crashed at analysis time,
            # IRI/unknown operands compared lexically instead of
            # erroring)
            vs, k, lg, d0 = cc
            d = f"coalesce({d0}, {xs})"
            oc = _ord_class(other)
            if oc is None:
                return "CAST(NULL AS BOOLEAN)"
            cls, osql = oc
            if cls == "num":
                vn = f"try_cast({vs} AS DOUBLE)"
                ls, rs = (vn, osql) if ca else (osql, vn)
                return (f"(CASE WHEN {k} = 'literal' AND {lg} IS NULL "
                        f"AND ({d0} IS NULL OR {d0} IN ({nums})) "
                        f"THEN {ls} {op} {rs} "
                        f"ELSE CAST(NULL AS BOOLEAN) END)")
            if cls == "str":
                ls, rs = (vs, osql) if ca else (osql, vs)
                return (f"(CASE WHEN {k} = 'literal' AND {lg} IS NULL "
                        f"AND {d} = {xs} THEN {ls} {op} {rs} "
                        f"ELSE CAST(NULL AS BOOLEAN) END)")
            if cls == "bool":
                vb = f"({vs} IN ('true', '1'))"
                ls, rs = (vb, osql) if ca else (osql, vb)
                return (f"(CASE WHEN {k} = 'literal' AND {d} = {xsb} "
                        f"THEN {ls} {op} {rs} "
                        f"ELSE CAST(NULL AS BOOLEAN) END)")
            return "CAST(NULL AS BOOLEAN)"
        lit = other
        if cc is None or lit is None or lit[0] != "lit":
            return None
        vs, k, lg, d0 = cc
        d = f"coalesce({d0}, {xs})"
        ls, rs = (vs, lit[1]) if ca else (lit[1], vs)
        _, lex, lang, dt = lit
        if lang:
            # ordering is not defined on language-tagged strings
            return "CAST(NULL AS BOOLEAN)"
        if dt is None or dt == XSD + "string":
            return (f"(CASE WHEN {k} = 'literal' AND {lg} IS NULL "
                    f"AND {d} = {xs} THEN {ls} {op} {rs} "
                    f"ELSE CAST(NULL AS BOOLEAN) END)")
        if dt == XSD + "dateTime":
            return (f"(CASE WHEN {k} = 'literal' AND {d} = {dtt} "
                    f"THEN try_cast({ls} AS TIMESTAMP) {op} "
                    f"try_cast({rs} AS TIMESTAMP) "
                    f"ELSE CAST(NULL AS BOOLEAN) END)")
        if dt == XSD + "boolean":
            return (f"(CASE WHEN {k} = 'literal' AND {d} = {xsb} "
                    f"THEN ({ls} IN ('true', '1')) {op} "
                    f"({rs} IN ('true', '1')) "
                    f"ELSE CAST(NULL AS BOOLEAN) END)")
        return None

    def _typ(self, var: str, which: str) -> str:
        """SQL for a variable's kind/datatype/lang companion column
        (forces typed capture; missing companions are patched to their
        shape-derived fallbacks at evaluation time). The KIND companion
        additionally falls back to the value's shape PER ROW: in a
        UNION, a var bound companion-less in one branch (subject/
        predicate position) rides a NULL cell of the other branch's
        kind column, and a NULL kind must not poison term equality
        (sweep 39: `?e != ?c` came back true for two identical IRIs).
        Companion-less positions only ever bind IRIs/bnodes, so the
        shape fallback is exact wherever the cell can be NULL with a
        bound value."""
        self.needs_types = True
        col = _qcol(f"{TYPED_PREFIX}{var}__{which}")
        if which != "kind":
            return col
        v = f"CAST({_qcol(var)} AS STRING)"
        return (f"coalesce({col}, CASE WHEN {v} IS NULL THEN NULL "
                f"WHEN startswith({v}, '_:') THEN 'bnode' "
                f"ELSE 'iri' END)")

    def _comps_of(self, node):
        """``(value, kind, lang, datatype)`` SQL of a VAR-LIKE node —
        a plain variable (companion columns) or a runtime term
        ("termr", sweep 37: IF/COALESCE over heterogeneous branches).
        None for every other node shape."""
        if node[0] == "any":
            v = _uncol(node[1])
            if v is None:
                return None
            # the value rides as CAST(... AS STRING): solution columns
            # are usually strings (no-op), but typed computed columns
            # (boolean/numeric BIND aliases, aggregate outputs) reach
            # comparisons/EBV too, and the generated SQL's
            # length()/try_cast(... AS TIMESTAMP)/codepoint branches
            # are only analyzable on strings (sweep 38: ORDER BY
            # (?f <= ?bool_alias) crashed at analysis time)
            return (f"CAST({_qcol(v)} AS STRING)",
                    self._typ(v, "kind"),
                    self._typ(v, "lang"), self._typ(v, "datatype"))
        if node[0] == "termr":
            return node[1], node[2], node[3], node[4]
        return None

    def _node_term(self, node):
        """Convert ANY compiled node to runtime-term component SQL
        ``(value, kind, lang, datatype)`` — the value rendered as its
        LEXICAL form ([spec] term domain; sweep 37: IF/COALESCE
        branches of different static types crashed at analysis time or
        compared wrongly). None when the node is unknowable (opaque
        computed "any")."""
        c = self._comps_of(node)
        if c is not None:
            return c
        tag, sql = node[0], node[1]
        null = "CAST(NULL AS STRING)"

        def g(x: str) -> str:
            return f"if(({sql}) IS NOT NULL, {x}, NULL)"

        if tag in ("iri", "irix"):
            return (sql, g("'iri'"), null, null)
        if tag in ("lit", "termx"):
            lang, dt = node[2], node[3]
            if isinstance(lang, SqlTag):
                lg = lang.sql
            elif lang:
                lg = _sql_str(lang)
            else:
                lg = null
            if isinstance(dt, SqlTag):
                d = dt.sql
            elif dt and dt != XSD + "string":
                d = _sql_str(dt)
            else:
                d = null
            return (sql, g("'literal'"), g(lg) if lg != null else null,
                    g(d) if d != null else null)
        if tag == "num":
            cls = _num_cls(node)
            lex = _num_str_sql(sql, cls)
            d = _sql_str(_CLS_DT[cls]) if isinstance(cls, int) \
                else _cls_dt_sql(cls)
            return (lex, f"if(({sql}) IS NOT NULL, 'literal', NULL)",
                    null, f"if(({sql}) IS NOT NULL, {d}, NULL)")
        if tag == "bool":
            # CASE (not if): an error (NULL) boolean must stay NULL —
            # if(NULL, 'true', 'false') takes the else arm, so an
            # errored COALESCE/IF branch won as 'false' (sweep 39)
            lex = (f"(CASE WHEN ({sql}) THEN 'true' "
                   f"WHEN NOT ({sql}) THEN 'false' END)")
            return (lex, g("'literal'"),
                    null, g(_sql_str(XSD + "boolean")))
        if tag == "str":
            return (sql, g("'literal'"), null, null)
        return None

    def _term_eq_sql(self, a, b, value_eq: bool = True) -> str | None:
        """RDF-term-aware ``=``/``!=`` ([spec] SPARQL 1.1 §17.4.1.7
        RDFterm-equal, with the RDF 1.1 identification of simple
        literals and xsd:string). Returns None when neither side is a
        term constant/variable pair this handles — the caller falls
        back to the plain value comparison (numeric etc.).

        Sweep 10: the value-only compare made "Bob"@en = "Bob" true and
        let literals compare equal to same-lexical IRIs."""
        xsd_str = _sql_str(XSD + "string")

        def lit_guard(c, n) -> str:
            body = _lit_guard_body(c, n)
            # a COMPUTED literal operand (termx / runtime-tagged
            # string-fn result) may be NULL = a propagated type error —
            # it must error the comparison, never fall into the
            # 'non-literal → false' conjunct (sweep 39: LCASE(?bnode)
            # = ?bnode came back false instead of unbound)
            if n[0] == "termx" or isinstance(n[2], SqlTag) \
                    or isinstance(n[3], SqlTag):
                return (f"(CASE WHEN ({n[1]}) IS NULL "
                        f"THEN CAST(NULL AS BOOLEAN) ELSE {body} END)")
            return body

        def _lit_guard_body(c, n) -> str:
            cvs, ck, clg, cd = c
            _, vsql, lang, dt = n
            if value_eq and not lang and dt in _NUMERIC_DATATYPES:
                # [spec] §17.3/§17.4.1.7 (sweep 25): numeric literals
                # compare by VALUE across the numeric tree; a numeric
                # vs a NON-numeric literal is a type error (NULL), vs
                # a non-literal false
                nums = ", ".join(_sql_str(d) for d in _NUMERIC_DATATYPES)
                return (f"(CASE WHEN {ck} <> "
                        f"'literal' THEN false "
                        f"WHEN {cd} IN ({nums}) "
                        f"THEN try_cast({cvs} AS DOUBLE) = "
                        f"try_cast({vsql} AS DOUBLE) "
                        f"ELSE CAST(NULL AS BOOLEAN) END)")
            parts = [f"({cvs} = {vsql})",
                     f"({ck} = 'literal')"]
            if isinstance(lang, SqlTag):
                # runtime tag (string-fn propagation): langs must agree
                # null-safely, and an untagged result only equals a
                # plain/xsd:string literal
                parts.append(f"({clg} <=> {lang.sql})")
                parts.append(
                    f"({lang.sql} IS NOT NULL OR "
                    f"coalesce({cd}, {xsd_str})"
                    f" = {_sql_str(dt) if dt else xsd_str})")
            elif lang:
                parts.append(f"({clg} = '{lang}')")
            else:
                parts.append(f"({clg} IS NULL)")
                parts.append(
                    f"(coalesce({cd}, {xsd_str})"
                    f" = {_sql_str(dt) if dt else xsd_str})")
            return "(" + " AND ".join(parts) + ")"

        ca, cb = self._comps_of(a), self._comps_of(b)
        if ca and b[0] in ("lit", "termx"):
            return lit_guard(ca, b)
        if cb and a[0] in ("lit", "termx"):
            return lit_guard(cb, a)
        if ca and b[0] in ("iri", "irix"):
            return f"({ca[0]} = {b[1]} AND {ca[1]} = 'iri')"
        if cb and a[0] in ("iri", "irix"):
            return f"({cb[0]} = {a[1]} AND {cb[1]} = 'iri')"
        comp_node, cvar = None, None
        if ca and b[0] in ("num", "str", "bool"):
            comp_node, cvar = b, ca
        elif cb and a[0] in ("num", "str", "bool"):
            comp_node, cvar = a, cb
        if comp_node is not None:
            # variable vs a COMPUTED expression (sweep 37: these fell
            # through to a raw SQL '=' — a string column against a
            # boolean/double expression crashed or implicit-cast under
            # ANSI). §17.4.1.7: a non-literal vs a literal value is
            # false; incompatible literal typings are a type error.
            nums = ", ".join(_sql_str(d) for d in _NUMERIC_DATATYPES)
            vs, k, lg, d = cvar
            if not value_eq:
                # sameTerm: lexical + typing identity against the
                # computed term's canonical lexical form
                if comp_node[0] == "num":
                    dtck = f"({lg} IS NULL AND {d} IN ({nums}))"
                elif comp_node[0] == "bool":
                    dtck = (f"({lg} IS NULL AND {d} = "
                            f"{_sql_str(XSD + 'boolean')})")
                else:
                    dtck = (f"({lg} IS NULL AND coalesce({d}, "
                            f"{xsd_str}) = {xsd_str})")
                return (f"(CASE WHEN ({comp_node[1]}) IS NULL "
                        f"THEN CAST(NULL AS BOOLEAN) "
                        f"ELSE {k} = 'literal' AND {dtck} AND "
                        f"{vs} = CAST({comp_node[1]} AS STRING) END)")
            # a NULL computed operand is a propagated TYPE ERROR — it
            # must error the comparison, never reach the 'non-literal →
            # false' row (sweep 37)
            err = (f"CASE WHEN ({comp_node[1]}) IS NULL "
                   f"THEN CAST(NULL AS BOOLEAN) ")
            if comp_node[0] == "num":
                return (f"({err}WHEN {k} <> 'literal' THEN false "
                        f"WHEN {lg} IS NULL AND ({d} IS NULL OR {d} IN "
                        f"({nums})) THEN try_cast({vs} AS DOUBLE) = "
                        f"({comp_node[1]}) "
                        f"ELSE CAST(NULL AS BOOLEAN) END)")
            if comp_node[0] == "str":
                return (f"({err}WHEN {k} <> 'literal' THEN false "
                        f"WHEN {lg} IS NULL AND coalesce({d}, "
                        f"{xsd_str}) = {xsd_str} THEN {vs} = "
                        f"({comp_node[1]}) "
                        f"ELSE CAST(NULL AS BOOLEAN) END)")
            return (f"({err}WHEN {k} <> 'literal' THEN false "
                    f"WHEN {lg} IS NULL AND {d} = "
                    f"{_sql_str(XSD + 'boolean')} THEN "
                    f"({vs} IN ('true', '1')) = ({comp_node[1]}) "
                    f"ELSE CAST(NULL AS BOOLEAN) END)")
        if ca and cb:
            x, ka, la, da = ca
            y, kb, lb, db = cb
            term_eq = (f"({x} = {y} AND {ka} <=> {kb} AND "
                       f"{la} <=> {lb} AND coalesce({da}, {xsd_str}) <=> "
                       f"coalesce({db}, {xsd_str}))")
            if not value_eq:          # sameTerm: strict term identity
                return term_eq
            # [spec] §17.3 (sweep 25): two numeric literals compare by
            # VALUE ("30"^^xsd:integer = "30.0"^^xsd:decimal); a
            # numeric vs a non-numeric LITERAL is a type error
            nums = ", ".join(_sql_str(d) for d in _NUMERIC_DATATYPES)
            both_lit = f"{ka} = 'literal' AND {kb} = 'literal'"
            na, nb = f"{da} IN ({nums})", f"{db} IN ({nums})"
            return (f"(CASE WHEN {both_lit} AND {na} AND {nb} "
                    f"THEN try_cast({x} AS DOUBLE) = "
                    f"try_cast({y} AS DOUBLE) "
                    f"WHEN {both_lit} AND (coalesce({na}, false) <> "
                    f"coalesce({nb}, false)) THEN CAST(NULL AS BOOLEAN) "
                    f"ELSE {term_eq} END)")
        if "termx" in (a[0], b[0]) and a[0] in ("lit", "termx", "iri") \
                and b[0] in ("lit", "termx", "iri"):
            # a constructed literal term (STRLANG/STRDT/TIMEZONE) vs a
            # constant/other constructed term: tags fold at compile
            # time, lexicals compare in SQL (NULL → type error → NULL)
            if "iri" in (a[0], b[0]):
                return "false"
            if isinstance(a[2], SqlTag) or isinstance(b[2], SqlTag):
                # runtime tag on either side: compare langs in SQL;
                # datatypes (always compile-time constants) must match
                if (a[3] or XSD + "string") != (b[3] or XSD + "string"):
                    return "false"
                return (f"({a[1]} = {b[1]} AND "
                        f"{_tag_sql(a[2])} <=> {_tag_sql(b[2])})")
            tags_eq = ((a[2] or None) == (b[2] or None)
                       and (a[3] or XSD + "string")
                       == (b[3] or XSD + "string"))
            return f"({a[1]} = {b[1]})" if tags_eq else "false"
        if a[0] in ("lit", "iri") and b[0] in ("lit", "iri"):
            if a[0] != b[0]:
                return "false"
            if a[0] == "iri":
                return "true" if a[1] == b[1] else "false"
            la, lb = a[2] or None, b[2] or None
            da = a[3] or XSD + "string"
            db = b[3] or XSD + "string"
            if a[1] == b[1] and la == lb and da == db:
                return "true"
            if not value_eq:
                return "false"          # sameTerm: exact identity only
            # [spec] §17.4.1.7 RDFterm-equal (sweep 39): two literal
            # constants that are NOT the same term compare by value
            # where a §17.3 mapping row applies — numeric/boolean by
            # value, simple/xsd:string by codepoint — and are a TYPE
            # ERROR otherwise (different lang tags, unknown datatypes,
            # numeric vs tagged: previously folded to false, so
            # `1 != "a"@en` was true instead of an error)
            if la is None and lb is None:
                if da == db == XSD + "string":
                    return "false"      # different lexicals, string row
                if da in _NUMERIC_DATATYPES and db in _NUMERIC_DATATYPES:
                    return (f"(try_cast({a[1]} AS DOUBLE) = "
                            f"try_cast({b[1]} AS DOUBLE))")
                if da == db == XSD + "boolean":
                    def bv(lex_sql):
                        return f"(CASE WHEN {lex_sql} IN ('true', '1') " \
                               f"THEN true WHEN {lex_sql} IN " \
                               f"('false', '0') THEN false END)"
                    return f"({bv(a[1])} = {bv(b[1])})"
                if da == db == XSD + "dateTime":
                    return (f"(try_cast({a[1]} AS TIMESTAMP) = "
                            f"try_cast({b[1]} AS TIMESTAMP))")
            return "CAST(NULL AS BOOLEAN)"
        return None

    def _term_companions(self, node, var: str) -> list[tuple[str, str]]:
        """Companion-column binds ``[(col, sql)]`` for a BIND /
        projection of a term-shaped expression, so LANG/DATATYPE/
        isLiteral and term-aware ``=`` keep working through the alias
        (sweep 13; previously BIND("x"@en AS ?v) silently dropped the
        tag and the alias shape-derived as an IRI).

        - ``lit``/``termx`` nodes: kind='literal' plus the constant
          lang/datatype, all NULL-guarded on the bound value so a type
          error stays fully unbound.
        - ``any`` (plain variable alias): copy the source variable's
          companions by reference — when those were never captured,
          evaluation-time patching shape-derives from the source var,
          which is identical to deriving from the alias (so this never
          forces typed capture: ``needs_types`` is untouched).
        """
        pre = f"{TYPED_PREFIX}{var}__"
        if node[0] in ("lit", "termx"):
            g = f"if({_qcol(var)} IS NOT NULL, {{}}, NULL)"
            null = "CAST(NULL AS STRING)"
            return [
                (pre + "kind", g.format("'literal'")),
                (pre + "lang",
                 g.format(_tag_sql(node[2])) if node[2] else null),
                (pre + "datatype",
                 g.format(_sql_str(node[3])) if node[3]
                 and node[3] != XSD + "string" else null),
            ]
        if node[0] == "any":
            src = _uncol(node[1])
            if src is None:
                return []
            return [(pre + w, _qcol(f"{TYPED_PREFIX}{src}__{w}"))
                    for w in ("kind", "lang", "datatype")]
        if node[0] == "termr":
            # runtime term (sweep 37): its own component SQL
            return [(pre + "kind", node[2]), (pre + "lang", node[3]),
                    (pre + "datatype", node[4])]
        if node[0] in ("str", "num", "bool"):
            # computed expressions ARE literals (sweep 25: the alias's
            # shape-derived kind was 'iri', so term-aware = and the
            # typed comparisons silently dropped every row). "num"
            # carries its promoted class (sweep 37) — fall back to the
            # SQL runtime type for classless legacy nodes.
            g = f"if({_qcol(var)} IS NOT NULL, {{}}, NULL)"
            null = "CAST(NULL AS STRING)"
            if node[0] == "num":
                cls = _num_cls(node)
                dt = _cls_dt_sql(cls)
            elif node[0] == "bool":
                dt = _sql_str(XSD + "boolean")
            else:
                dt = None
            return [
                (pre + "kind", g.format("'literal'")),
                (pre + "lang", null),
                (pre + "datatype", g.format(dt) if dt else null),
            ]
        return []

    def _term_key_sql(self, node, var: str) -> str | None:
        """Term-key (``__tk_``) SQL for a BIND/projection alias — the
        join-time twin of :func:`bgp.term_key_col` (sweep 37). Returns
        None when the node's term typing is unknowable (the alias then
        joins by value, never worse than before)."""
        v = _qcol(var)

        def g(x: str) -> str:
            return f"if({v} IS NOT NULL, {x}, NULL)"

        tag = node[0]
        xs = _sql_str(XSD + "string")
        if tag in ("iri", "irix"):
            return g("'iri'")
        if tag in ("lit", "termx"):
            lang, dt = node[2], node[3]
            if isinstance(lang, SqlTag):
                base = _sql_str(dt) if dt and dt != XSD + "string" \
                    else xs
                return g(f"concat('L', if({lang.sql} IS NOT NULL, "
                         f"concat('@', lower({lang.sql})), {base}))")
            if lang:
                return g(_sql_str("L@" + lang.lower()))
            if isinstance(dt, SqlTag):
                return g(f"concat('L', coalesce({dt.sql}, {xs}))")
            return g(_sql_str(term_key_of("literal", dt, None)))
        if tag == "num":
            cls = _num_cls(node)
            if isinstance(cls, int):
                return g(_sql_str("L" + _CLS_DT[cls]))
            return g(f"concat('L', {_cls_dt_sql(cls)})")
        if tag == "bool":
            return g(_sql_str("L" + XSD + "boolean"))
        if tag == "str":
            return g(_sql_str("L" + XSD + "string"))
        if tag in ("any", "termr"):
            c = self._comps_of(node)
            if c is not None:
                _, k, lg, d = c
                return (f"(CASE WHEN {v} IS NULL THEN NULL "
                        f"WHEN {k} = 'literal' THEN concat('L', "
                        f"CASE WHEN {lg} IS NOT NULL THEN "
                        f"concat('@', lower({lg})) "
                        f"ELSE coalesce({d}, {xs}) END) "
                        f"ELSE {k} END)")
        return None

    def _expr_add(self):
        node = self._expr_mul()
        while True:
            if self._is_op("+") or self._is_op("-"):
                op = self.take().text
                rhs = self._expr_mul()
            else:
                t = self.peek()
                if (t is not None and t.kind == "NUMBER"
                        and t.text[0] in "+-"):
                    # [spec] grammar rule [116]: a SIGNED numeric
                    # literal continues the additive expression
                    # ("1+1", "?x-2" — the tokenizer lexes the sign
                    # into the number; sweep 37), optionally with
                    # '*'/'/' continuations on the literal itself
                    self.take()
                    op, mag = t.text[0], t.text[1:]
                    if re.fullmatch(r"\d+", mag):
                        rcls = 0
                    elif "e" in mag.lower():
                        rcls = 3
                    else:
                        rcls = 1
                    rhs = ("num", mag, rcls)
                    while self._is_op("*") or self._is_op("/"):
                        op2 = self.take().text
                        nxt = self._expr_unary()
                        rcls = _cls_promote(
                            _num_cls(rhs, self._typ),
                            _num_cls(nxt, self._typ),
                            div=(op2 == "/"))
                        rhs = ("num",
                               _arith_sql(rhs[1], op2,
                                          _as_num(nxt, self._typ),
                                          rcls), rcls)
                else:
                    break
            cls = _cls_promote(_num_cls(node, self._typ),
                               _num_cls(rhs, self._typ))
            node = ("num", f"({_as_num(node, self._typ)} {op} "
                    f"{_as_num(rhs, self._typ)})", cls)
        return node

    def _expr_mul(self):
        node = self._expr_unary()
        while self._is_op("*") or self._is_op("/"):
            op = self.take().text
            rhs = self._expr_unary()
            cls = _cls_promote(_num_cls(node, self._typ),
                               _num_cls(rhs, self._typ),
                               div=(op == "/"))
            node = ("num",
                    _arith_sql(_as_num(node, self._typ), op,
                               _as_num(rhs, self._typ), cls), cls)
        return node

    def _expr_unary(self):
        if self._is_op("!"):
            self.take()
            return ("bool", f"(NOT {self._ebv(self._expr_unary())})")
        if self._is_op("-"):
            self.take()
            sub = self._expr_unary()
            return ("num", f"(- {_as_num(sub, self._typ)})",
                    _num_cls(sub, self._typ))
        if self._is_op("+"):
            self.take()
            return self._expr_unary()
        return self._expr_primary()

    def _expr_primary(self):
        t = self.peek()
        if t is None:
            raise SparqlError("unexpected end of expression")
        if t.kind == "OP" and t.text == "(":
            self.take()
            node = self._parse_expr()
            self.expect_op(")")
            return node
        if t.kind == "VAR":
            self.take()
            return ("any", _qcol(t.text))
        if t.kind == "NUMBER":
            self.take()
            if re.fullmatch(r"[+-]?\d+", t.text):
                cls = 0
            elif "e" in t.text.lower():
                cls = 3
            else:
                cls = 1
            return ("num", t.text, cls)
        if t.kind == "STRING":
            # quoted literal constant: keep lang/datatype so =/!=/
            # sameTerm can compare RDF TERMS, not lexical forms
            # (sweep 10: "Bob"@en previously compared equal to "Bob")
            self.take()
            dt = self._expand_datatype(t.datatype) if t.datatype else None
            return ("lit", _sql_str(t.text), t.lang, dt)
        if t.kind == "IRIREF":
            self.take()
            return ("iri", _sql_str(self.resolve_iri(t.text)))
        if t.kind == "NAME":
            up = t.text.upper()
            if up in ("TRUE", "FALSE"):
                self.take()
                return ("bool", up)
            if up in ("EXISTS", "NOT"):
                # ExistsFunc / NotExistsFunc as expression primaries
                # ([spec] grammar BuiltInCall; sweep 37 — previously
                # only the bare FILTER (NOT) EXISTS {...} form parsed,
                # so EXISTS inside any parenthesized/compound
                # expression was rejected)
                positive = up == "EXISTS"
                if not positive:
                    nxt = self.peek(1)
                    if not (nxt is not None and nxt.kind == "NAME"
                            and nxt.text.upper() == "EXISTS"):
                        raise SparqlError(
                            f"unexpected {t.text!r} in expression "
                            f"at char {t.pos}")
                    self.take()
                self.take()
                return self._exists_primary(positive)
            nxt = self.peek(1)
            if nxt is not None and nxt.kind == "OP" and nxt.text == "(":
                return self._expr_call(self.take().text)
            raise SparqlError(f"unexpected {t.text!r} in expression "
                              f"at char {t.pos}")
        if t.kind == "PNAME":
            nxt = self.peek(1)
            if nxt is not None and nxt.kind == "OP" and nxt.text == "(":
                return self._expr_cast(self.take())
            self.take()
            return ("iri", _sql_str(self.expand_pname(t.text, t.pos)))
        raise SparqlError(f"unexpected {t.text!r} in expression "
                          f"at char {t.pos}")

    def _exists_primary(self, positive: bool):
        """Compile an embedded EXISTS group to a boolean marker-column
        reference; the group itself is registered on the innermost open
        group, whose evaluation materializes the marker (compatibility
        semi-join flag) right before the referencing filter/bind runs.
        EXISTS never raises a type error, so the marker is non-NULL."""
        sub = self.parse_group()
        if not self._group_stack:
            raise SparqlError(
                "EXISTS in SELECT/HAVING expressions is unsupported "
                "(v1) — BIND it to a variable inside the WHERE group")
        marker = f"__exs_{self._exs_n}"
        self._exs_n += 1
        self._group_stack[-1].exists_defs[marker] = sub
        sql = _qcol(marker)
        return ("bool", f"(NOT {sql})" if not positive else sql)

    _CASTS = {"integer": "BIGINT", "int": "BIGINT", "long": "BIGINT",
              "decimal": "DOUBLE", "double": "DOUBLE", "float": "DOUBLE",
              "string": "STRING", "boolean": "BOOLEAN"}

    def _expr_cast(self, t: Tok):
        iri = self.expand_pname(t.text, t.pos)
        if not iri.startswith(XSD):
            raise SparqlError(f"only xsd:* cast functions supported, "
                              f"got {t.text!r}")
        local = iri[len(XSD):]
        if local not in self._CASTS:
            raise SparqlError(f"unsupported cast xsd:{local}")
        self.expect_op("(")
        arg = self._parse_expr()[1]
        self.expect_op(")")
        sqlt = self._CASTS[local]
        tag = "num" if sqlt in ("BIGINT", "DOUBLE") else (
            "bool" if sqlt == "BOOLEAN" else "str")
        return (tag, f"try_cast({arg} AS {sqlt})")

    def _expr_call(self, name: str):
        up = name.upper()
        self.expect_op("(")
        args: list[tuple] = []
        if not self._is_op(")"):
            args.append(self._parse_expr())
            while self._is_op(","):
                self.take()
                args.append(self._parse_expr())
        self.expect_op(")")
        return self._compile_call(up, args)

    def _regex_flags(self, flags: tuple) -> str | None:
        """Validate a REGEX/REPLACE flags argument ([spec] §17.4.3.14 /
        F&O err:FORX0001): a string literal over the supported flag
        chars. An invalid or unsupported flags value is a RUNTIME type
        error — returns None and the caller compiles to NULL (sweep 37:
        this raised a query-level SparqlError, but the spec errors the
        EXPRESSION, leaving the row's binding unbound)."""
        if flags[0] not in ("str", "lit") or not flags[1].startswith("'"):
            raise SparqlError("regex flags must be a string literal")
        fl = flags[1].strip("'")
        if set(fl) - set("ismx"):
            return None
        return fl

    def _string_lit_guard(self, node, allow_lang: bool = True):
        """[spec] 'string literal' check (simple / xsd:string /
        lang-tagged — pass ``allow_lang=False`` for the functions that
        demand a PLAIN string, e.g. the hashes): None when statically
        satisfied (or unknowable computed string), "false" when
        statically violated, else a SQL boolean guard for var-like
        operands."""
        tag = node[0]
        if tag == "str":
            return None
        if tag in ("lit", "termx"):
            lang, dt = node[2], node[3]
            if not allow_lang and isinstance(lang, SqlTag):
                return f"({lang.sql} IS NULL)"
            if not allow_lang and lang:
                return "false"
            if isinstance(dt, SqlTag):
                xs = _sql_str(XSD + "string")
                return f"(coalesce({dt.sql}, {xs}) = {xs})"
            if dt and dt != XSD + "string":
                return "false"
            return None
        if tag in ("num", "bool", "iri", "irix"):
            return "false"
        c = self._comps_of(node)
        if c is None:
            return None
        _, k, lg, d = c
        xs = _sql_str(XSD + "string")
        if not allow_lang:
            return (f"({k} = 'literal' AND {lg} IS NULL AND "
                    f"coalesce({d}, {xs}) = {xs})")
        return (f"({k} = 'literal' AND ({lg} IS NOT NULL OR "
                f"coalesce({d}, {xs}) = {xs}))")

    @staticmethod
    def _and_guards(*gs):
        gs = [g for g in gs if g is not None]
        if "false" in gs:
            return "false"
        if not gs:
            return None
        return gs[0] if len(gs) == 1 else "(" + " AND ".join(gs) + ")"

    def _arg_lang(self, node):
        """Language tag of a string-function argument: a constant str,
        None (simple / xsd:string / non-literal), or SqlTag (runtime
        expression — variables, runtime terms, and propagated
        string-fn results)."""
        if node[0] in ("lit", "termx"):
            return node[2] or None
        if node[0] == "any":
            v = _uncol(node[1])
            if v is not None:
                return SqlTag(self._typ(v, "lang"))
        if node[0] == "termr":
            return SqlTag(node[3])
        return None

    def _compat_guard(self, n1, n2) -> str | None:
        """[spec] §17.4.3.1.1 argument compatibility for the binary
        string functions: arg2 must be simple/xsd:string or carry the
        SAME language tag as arg1. Returns None when statically
        compatible, "false" when statically incompatible, else a SQL
        boolean guard (non-true → type error → NULL result)."""
        l1, l2 = self._arg_lang(n1), self._arg_lang(n2)
        if l2 is None:
            return None
        if isinstance(l1, str) and isinstance(l2, str):
            return None if l1 == l2 else "false"
        if l1 is None and isinstance(l2, str):
            return "false"
        # at least one runtime tag: NULL l1 with non-NULL l2 yields
        # NULL (= not true), exactly the type-error path
        return f"({_tag_sql(l2)} IS NULL OR {_tag_sql(l1)} = {_tag_sql(l2)})"

    def _str_result(self, sql: str, arg0, guard: str | None = None):
        """Build a string-function result node that propagates arg0's
        language tag ([spec] §17.4.3: UCASE/LCASE/SUBSTR/REPLACE/
        STRBEFORE/STRAFTER/CONCAT return a literal with the derived
        tag), optionally wrapped in an argument-compatibility guard."""
        if guard == "false":
            return ("str", "CAST(NULL AS STRING)")
        if guard:
            sql = f"(CASE WHEN {guard} THEN {sql} END)"
        lang = self._arg_lang(arg0) if arg0 is not None else None
        if lang is None:
            return ("str", sql)
        return ("termx", sql, lang, None)

    def _type_fn_const(self, up: str, node):
        """LANG/DATATYPE/is* over a term-shaped EXPRESSION node
        (string-fn results, literal/IRI constants — sweep 24;
        previously only variables were accepted). Returns None for
        shapes still unsupported (bare numeric/boolean SQL)."""
        tag, lex = node[0], node[1]
        langstr = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

        def g(expr: str) -> str:
            # a NULL value is a propagated type error → stays NULL
            return f"if(({lex}) IS NOT NULL, {expr}, NULL)"

        if tag in ("iri", "irix"):
            if up in ("ISIRI", "ISURI"):
                return ("bool", g("true"))
            if up in ("ISLITERAL", "ISBLANK", "ISNUMERIC"):
                return ("bool", g("false"))
            return (("str", "CAST(NULL AS STRING)"))   # LANG/DATATYPE
        if tag == "num":
            # computed numeric ([spec] §17.3 promotion — the class
            # rides on the node; sweep 37: these raised
            # "needs a variable or term argument")
            if up == "DATATYPE":
                return ("irix", g(_cls_dt_sql(_num_cls(node))))
            if up in ("ISNUMERIC", "ISLITERAL"):
                return ("bool", g("true"))
            if up == "LANG":
                return ("str", g("''"))
            return ("bool", g("false"))    # ISIRI/ISURI/ISBLANK
        if tag == "termr":
            # runtime term (IF/COALESCE over heterogeneous branches,
            # sweep 37): dispatch on the node's own component SQL
            val, kind, lang2, dt2 = node[1], node[2], node[3], node[4]
            nums = ", ".join(_sql_str(x) for x in _NUMERIC_DATATYPES)

            def gg(expr: str) -> str:
                return f"if(({val}) IS NOT NULL, {expr}, NULL)"

            if up == "LANG":
                return ("str", gg(f"if({kind} = 'literal', "
                                  f"coalesce({lang2}, ''), NULL)"))
            if up == "DATATYPE":
                return ("irix", gg(
                    f"coalesce({dt2}, "
                    f"if({lang2} IS NOT NULL, {_sql_str(langstr)}, "
                    f"NULL), "
                    f"if({kind} = 'literal', "
                    f"{_sql_str(XSD + 'string')}, NULL))"))
            if up in ("ISIRI", "ISURI"):
                return ("bool", gg(f"({kind} = 'iri')"))
            if up == "ISBLANK":
                return ("bool", gg(f"({kind} = 'bnode')"))
            if up == "ISNUMERIC":
                # coalesce: dt NULL (plain literal) means false, not
                # SQL's three-valued NULL
                return ("bool", gg(f"({kind} = 'literal' AND "
                                   f"coalesce({dt2} IN ({nums}), "
                                   f"false))"))
            return ("bool", gg(f"({kind} = 'literal')"))  # ISLITERAL
        if tag == "bool":
            if up == "DATATYPE":
                return ("irix", g(_sql_str(XSD + "boolean")))
            if up == "ISLITERAL":
                return ("bool", g("true"))
            if up == "LANG":
                return ("str", g("''"))
            return ("bool", g("false"))    # ISNUMERIC/ISIRI/ISBLANK
        if tag not in ("lit", "termx", "str"):
            return None
        lang = node[2] if tag in ("lit", "termx") else None
        dt = node[3] if tag in ("lit", "termx") else None
        if up == "LANG":
            if isinstance(lang, SqlTag):
                return ("str", g(f"coalesce({lang.sql}, '')"))
            return ("str", g(_sql_str(lang or "")))
        if up == "DATATYPE":
            plain_dt = _sql_str(dt or XSD + "string")
            if isinstance(lang, SqlTag):
                return ("irix", g(f"if({lang.sql} IS NOT NULL, "
                                  f"{_sql_str(langstr)}, {plain_dt})"))
            return ("irix", g(_sql_str(langstr) if lang else
                              dt and _sql_str(dt) or plain_dt))
        if up == "ISLITERAL":
            return ("bool", g("true"))
        if up == "ISNUMERIC":
            return ("bool", g("true" if dt in _NUMERIC_DATATYPES
                              else "false"))
        return ("bool", g("false"))    # ISIRI/ISURI/ISBLANK

    def _compile_call(self, up: str, args: list[tuple]):
        def a(i: int) -> str:
            # var-like operands flow in as their comps VALUE (a
            # CAST-to-string of the column) so string/hash functions
            # stay analyzable when the column is a typed computed one
            # (sweep 38: sha2(boolean BIND alias) failed analysis —
            # the companion guard was right, the operand SQL raw)
            if args[i][0] in ("any", "termr"):
                c = self._comps_of(args[i])
                if c is not None:
                    return c[0]
            return args[i][1]

        def need(n: int, alt: int | None = None):
            if len(args) != n and (alt is None or len(args) != alt):
                raise SparqlError(f"{up} expects {n} argument(s), "
                                  f"got {len(args)}")

        if up in _TYPE_FNS:
            self.needs_types = True
            need(1)
            var = _uncol(args[0][1]) if args[0][0] == "any" else None
            if var is None:
                node = self._type_fn_const(up, args[0])
                if node is not None:
                    return node
                raise SparqlError(f"{up} needs a variable or term "
                                  f"argument")
            kind = _qcol(f"{TYPED_PREFIX}{var}__kind")
            if up == "LANG":
                # [spec] §17.4.4.4: LANG is defined on LITERALS only —
                # an IRI/bnode argument is a type error (NULL here, so
                # a FILTER comparison drops the row; sweep 13)
                return ("str",
                        f"if({kind} = 'literal', "
                        f"coalesce({_qcol(TYPED_PREFIX + var + '__lang')},"
                        f" ''), NULL)")
            if up == "DATATYPE":
                dt = _qcol(f"{TYPED_PREFIX}{var}__datatype")
                lang = _qcol(f"{TYPED_PREFIX}{var}__lang")
                langstr = ("http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                           "langString")
                return ("irix", f"coalesce({dt}, "
                        f"if({lang} IS NOT NULL, '{langstr}', NULL), "
                        f"if({kind} = 'literal', '{XSD}string', NULL))")
            if up in ("ISIRI", "ISURI"):
                return ("bool", f"({kind} = 'iri')")
            if up == "ISBLANK":
                # term-kind test, NOT a lexical prefix test — a literal
                # "_:x" is not blank ([spec] §17.4.2.2; sweep 13)
                return ("bool", f"({kind} = 'bnode')")
            if up == "ISNUMERIC":   # [spec] §17.4.2.4
                dt = _qcol(f"{TYPED_PREFIX}{var}__datatype")
                dts = ", ".join(_sql_str(d) for d in _NUMERIC_DATATYPES)
                return ("bool",
                        f"({kind} = 'literal' AND {dt} IN ({dts}))")
            return ("bool", f"({kind} = 'literal')")   # ISLITERAL
        if up == "BOUND":
            need(1)
            return ("bool", f"({a(0)} IS NOT NULL)")
        if up == "STR":
            need(1)
            if args[0][0] == "num":
                # computed numeric: integer class renders "3", not
                # the double representation's "3.0" (sweep 37)
                return ("str", _num_str_sql(a(0), _num_cls(args[0])))
            if args[0][0] == "termr":
                # runtime term: the value IS the lexical form; STR of
                # a bnode is a type error ([spec] §17.4.2.5)
                return ("str", f"if({args[0][2]} = 'bnode', NULL, "
                        f"{a(0)})")
            return ("str", f"CAST({a(0)} AS STRING)")
        if up == "STRLEN":
            need(1)
            # [spec] §17.4.3.2: argument must be a STRING LITERAL
            # (sweep 37: STRLEN over an IRI/typed binding measured it)
            g = self._string_lit_guard(args[0])
            if g == "false":
                return ("num", "CAST(NULL AS DOUBLE)", 0)
            sql = f"length({a(0)})"
            if g:
                sql = f"(CASE WHEN {g} THEN {sql} END)"
            return ("num", sql, 0)
        if up == "UCASE":
            need(1)
            return self._str_result(f"upper({a(0)})", args[0],
                                    self._string_lit_guard(args[0]))
        if up == "LCASE":
            need(1)
            return self._str_result(f"lower({a(0)})", args[0],
                                    self._string_lit_guard(args[0]))
        if up in ("CONTAINS", "STRSTARTS", "STRENDS"):
            need(2)
            fn = {"CONTAINS": "contains", "STRSTARTS": "startswith",
                  "STRENDS": "endswith"}[up]
            res = f"{fn}({a(0)}, {a(1)})"
            g = self._and_guards(self._compat_guard(args[0], args[1]),
                                 self._string_lit_guard(args[0]),
                                 self._string_lit_guard(args[1]))
            if g == "false":
                return ("bool", "CAST(NULL AS BOOLEAN)")
            if g:
                res = f"(CASE WHEN {g} THEN {res} END)"
            return ("bool", res)
        if up in ("STRBEFORE", "STRAFTER"):
            need(2)
            if up == "STRBEFORE":
                sql = (f"if(instr({a(0)}, {a(1)}) = 0, '', "
                       f"substring({a(0)}, 1, instr({a(0)}, {a(1)}) - 1))")
            else:
                sql = (f"if(instr({a(0)}, {a(1)}) = 0, '', "
                       f"substring({a(0)}, instr({a(0)}, {a(1)}) "
                       f"+ length({a(1)})))")
            # [spec] §17.4.3.12-13: the tag carries over only when a
            # match exists (no-match → empty SIMPLE literal)
            node = self._str_result(
                sql, args[0],
                self._and_guards(self._compat_guard(args[0], args[1]),
                                 self._string_lit_guard(args[0]),
                                 self._string_lit_guard(args[1])))
            if node[0] == "termx" and node[2]:
                node = ("termx", node[1],
                        SqlTag(f"if(instr({a(0)}, {a(1)}) > 0, "
                               f"{_tag_sql(node[2])}, NULL)"), None)
            return node
        if up == "SUBSTR":
            need(2, 3)
            inner = ", ".join([a(0)] + [_as_num(x, self._typ)
                                        for x in args[1:]])
            return self._str_result(f"substring({inner})", args[0],
                                    self._string_lit_guard(args[0]))
        if up == "CONCAT":
            # [spec] §17.4.3.12: every argument must be a string
            # literal (sweep 37); the tag survives only when ALL
            # arguments carry the SAME tag
            if not args:
                return ("str", "''")
            gall = self._and_guards(
                *(self._string_lit_guard(x) for x in args))
            if gall == "false":
                return ("str", "CAST(NULL AS STRING)")
            sql = f"concat({', '.join(a(i) for i in range(len(args)))})"
            if gall:
                sql = f"(CASE WHEN {gall} THEN {sql} END)"
            langs = [self._arg_lang(x) for x in args]
            if all(isinstance(lg, str) for lg in langs) \
                    and len(set(langs)) == 1:
                return ("termx", sql, langs[0], None)
            if all(lg is None for lg in langs):
                return ("str", sql)
            if any(lg is None for lg in langs):
                return ("str", sql)     # an untagged arg kills the tag
            e0 = _tag_sql(langs[0])
            same = " AND ".join(f"({e0} <=> {_tag_sql(lg)})"
                                for lg in langs[1:])
            cond = f"{e0} IS NOT NULL" + (f" AND {same}" if same else "")
            return ("termx", sql, SqlTag(f"if({cond}, {e0}, NULL)"), None)
        if up == "REPLACE":
            need(3, 4)
            pat = a(1)
            if len(args) == 4:   # [spec] §17.4.3.15 flags arg (sweep 13)
                fl = self._regex_flags(args[3])
                if fl is None:
                    return ("str", "CAST(NULL AS STRING)")
                if fl:
                    pat = f"concat('(?{fl})', {pat})"
            return self._str_result(
                f"regexp_replace({a(0)}, {pat}, {a(2)})", args[0],
                self._and_guards(self._string_lit_guard(args[0]),
                                 self._string_lit_guard(args[1]),
                                 self._string_lit_guard(args[2])))
        if up == "REGEX":
            need(2, 3)
            pat = a(1)
            if len(args) == 3:
                fl = self._regex_flags(args[2])
                if fl is None:
                    return ("bool", "CAST(NULL AS BOOLEAN)")
                if fl:
                    pat = f"concat('(?{fl})', {pat})"
            res = f"({a(0)} RLIKE {pat})"
            # [spec] §17.4.3.14: the text argument must be a STRING
            # LITERAL (simple / xsd:string / lang-tagged) — an IRI or
            # bnode binding is a type error (sweep 37: "_:b2" matched
            # '[0-9]+' through its label); the pattern must be one too
            g = self._and_guards(self._string_lit_guard(args[0]),
                                 self._string_lit_guard(args[1]))
            if g == "false":
                return ("bool", "CAST(NULL AS BOOLEAN)")
            if g:
                res = f"(CASE WHEN {g} THEN {res} END)"
            return ("bool", res)
        if up in ("ABS", "CEIL", "FLOOR", "ROUND"):
            need(1) if up != "ROUND" else need(1, 2)
            fn = up.lower()
            inner = ", ".join(_as_num(x, self._typ) for x in args)
            # [spec] fn:abs / fn:ceiling / fn:floor / fn:round return
            # the argument's (promoted) type
            return ("num", f"{fn}({inner})",
                    _num_cls(args[0], self._typ))
        if up == "COALESCE":
            # [spec] §17.4.1.3: the value of the first argument that
            # evaluates without error. Homogeneous same-tag branches
            # stay in their class; otherwise a RUNTIME TERM carries
            # the winning branch's components (sweep 37: a raw SQL
            # coalesce over mixed types crashed at analysis time or
            # mis-kinded the result).
            tags = {x[0] for x in args}
            val = f"coalesce({', '.join(x[1] for x in args)})"
            if tags == {"num"}:
                cls = _num_cls(args[0])
                for x in args[1:]:
                    c2 = _num_cls(x)
                    if c2 != cls:
                        chain = " ".join(
                            f"WHEN ({x[1]}) IS NOT NULL THEN "
                            f"{_num_cls(x)}" for x in args)
                        cls = f"(CASE {chain} END)"
                        break
                return ("num", val, cls)
            if tags <= {"bool"}:
                return ("bool", val)
            if tags <= {"str"}:
                return ("str", val)
            terms = [self._node_term(x) for x in args]
            if all(t is not None for t in terms):
                def pick(i: int) -> str:
                    chain = " ".join(
                        f"WHEN ({t[0]}) IS NOT NULL THEN {t[i]}"
                        for t in terms)
                    return f"(CASE {chain} END)"
                return ("termr", pick(0), pick(1), pick(2), pick(3))
            return ("any", val)
        if up == "IF":
            need(3)
            # [spec] §17.4.1.2: the condition is interpreted through
            # EBV; an EBV type error errors the whole IF (NULL).
            # Same-tag branches keep their class; mixed branches build
            # a RUNTIME TERM (sweep 37: a raw SQL if() over a double
            # and a boolean raised DATATYPE_MISMATCH).
            cond = self._ebv(args[0])

            def sel(x1: str, x2: str) -> str:
                return (f"if({cond} IS NULL, NULL, "
                        f"if({cond}, {x1}, {x2}))")

            t1, t2 = args[1], args[2]
            if t1[0] == t2[0] == "num":
                c1, c2 = _num_cls(t1), _num_cls(t2)
                cls = c1 if c1 == c2 else \
                    f"(CASE WHEN {cond} THEN {c1} ELSE {c2} END)"
                return ("num", sel(a(1), a(2)), cls)
            if t1[0] == t2[0] and t1[0] in ("bool", "str"):
                return (t1[0], sel(a(1), a(2)))
            n1, n2 = self._node_term(t1), self._node_term(t2)
            if n1 is not None and n2 is not None:
                return ("termr", sel(n1[0], n2[0]), sel(n1[1], n2[1]),
                        sel(n1[2], n2[2]), sel(n1[3], n2[3]))
            return ("any", sel(a(1), a(2)))
        if up == "LANGMATCHES":
            need(2)
            rng = a(1)
            return ("bool",
                    f"if({rng} = '*', {a(0)} <> '', "
                    f"(lower({a(0)}) = lower({rng}) OR "
                    f"startswith(lower({a(0)}), concat(lower({rng}), '-'))))")
        if up in ("MD5", "SHA1", "SHA256", "SHA384", "SHA512"):
            need(1)
            # [spec] §17.4.4.5-9: argument must be a simple/xsd:string
            # literal — lang-tagged, typed, IRI, or computed non-string
            # operands are a type error (sweep 37)
            g = self._string_lit_guard(args[0], allow_lang=False)
            if g == "false":
                return ("str", "CAST(NULL AS STRING)")
            if up == "MD5":
                sql = f"md5({a(0)})"
            elif up == "SHA1":
                sql = f"sha1({a(0)})"
            else:
                sql = f"sha2({a(0)}, {up[3:]})"
            if g:
                sql = f"(CASE WHEN {g} THEN {sql} END)"
            return ("str", sql)
        if up == "SAMETERM":
            need(2)
            # exact term identity — kind/lang/datatype aware when the
            # arguments are variables or term constants (sweep 10);
            # value_eq=False: sameTerm("30"^^xsd:integer,
            # "30.0"^^xsd:decimal) is FALSE even though = is true
            eq = self._term_eq_sql(args[0], args[1], value_eq=False)
            if eq is not None:
                return ("bool", eq)
            # computed vs computed (sweep 37: the old '<=>' fallback
            # implicit-cast mixed SQL types and crashed under ANSI, and
            # treated two errors as the same term): statically distinct
            # value classes are different terms; same class compares
            # canonical lexical forms, errors propagate as NULL
            c0, c1 = _ord_class(args[0]), _ord_class(args[1])
            x, y = a(0), a(1)
            if c0 is not None and c1 is not None and c0[0] != c1[0]:
                return ("bool", f"(CASE WHEN ({x}) IS NULL OR ({y}) IS "
                        f"NULL THEN CAST(NULL AS BOOLEAN) "
                        f"ELSE false END)")
            return ("bool", f"(CASE WHEN ({x}) IS NULL OR ({y}) IS NULL "
                    f"THEN CAST(NULL AS BOOLEAN) "
                    f"ELSE CAST({x} AS STRING) = CAST({y} AS STRING) "
                    f"END)")
        if up == "ENCODE_FOR_URI":
            need(1)
            # [spec] §17.4.2.8 percent-encodes all but unreserved chars;
            # Spark's url_encode is form-encoding — normalize its two
            # divergences (space → '+', '~' → %7E). The argument must
            # be a string literal (sweep 37).
            g = self._string_lit_guard(args[0])
            if g == "false":
                return ("str", "CAST(NULL AS STRING)")
            sql = (f"replace(replace(url_encode({a(0)}), "
                   f"'+', '%20'), '%7E', '~')")
            if g:
                sql = f"(CASE WHEN {g} THEN {sql} END)"
            return ("str", sql)
        if up in ("IRI", "URI"):
            need(1)
            # terms are IRI strings in this engine; IRI() of a literal
            # is its lexical form (base resolution is a parse-time
            # concern for constants). "irix": an IRI-VALUED runtime
            # expression (sweep 37) — compares as a term with
            # variables/IRI constants, EBV/arithmetic type-error
            return ("irix", f"CAST({a(0)} AS STRING)")
        if up in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
            need(1)
            fn = {"YEAR": "year", "MONTH": "month", "DAY": "day",
                  "HOURS": "hour", "MINUTES": "minute",
                  "SECONDS": "second"}[up]
            # [spec] §17.4.5: SECONDS returns xsd:decimal, the rest
            # xsd:integer
            return ("num", f"{fn}(CAST({a(0)} AS TIMESTAMP))",
                    1 if up == "SECONDS" else 0)
        if up in ("STRDT", "STRLANG"):
            # [spec] §17.4.2.6-7: construct a typed / language-tagged
            # literal TERM. arg0 must be a simple (or xsd:string)
            # literal — otherwise a type error, i.e. NULL here, so a
            # FILTER drops the row and BIND leaves the var unbound.
            # The result is a "termx" node: lexical SQL + constant
            # lang/datatype, consumed term-aware by =/!= and turned
            # into companion columns at BIND/projection sites.
            need(2)
            lex, tag = args[0], args[1]
            xs = _sql_str(XSD + "string")
            if lex[0] == "any":
                v = _uncol(lex[1])
                guard = (f"({self._typ(v, 'kind')} = 'literal' AND "
                         f"{self._typ(v, 'lang')} IS NULL AND "
                         f"coalesce({self._typ(v, 'datatype')}, {xs})"
                         f" = {xs})")
                lex_sql = f"if({guard}, {lex[1]}, NULL)"
            elif lex[0] in ("lit", "termx") and isinstance(lex[2], SqlTag):
                # runtime-tagged string-fn result: simple only when the
                # propagated tag is NULL for this row
                lex_sql = (f"if({lex[2].sql} IS NULL, {lex[1]}, "
                           f"CAST(NULL AS STRING))")
            elif lex[0] in ("lit", "termx") and (
                    lex[2] or (lex[3] and lex[3] != XSD + "string")):
                lex_sql = "CAST(NULL AS STRING)"
            elif lex[0] in ("iri", "irix", "num", "bool"):
                # typed-literal / IRI operand: type error ([spec]
                # §17.4.2.6 — sweep 37: a boolean flowed through raw)
                lex_sql = "CAST(NULL AS STRING)"
            elif lex[0] == "termr":
                guard = (f"({lex[2]} = 'literal' AND {lex[3]} IS NULL "
                         f"AND coalesce({lex[4]}, {xs}) = {xs})")
                lex_sql = f"if({guard}, {lex[1]}, NULL)"
            else:
                lex_sql = lex[1]
            if up == "STRLANG":
                if tag[0] in ("str", "lit") and tag[1].startswith("'"):
                    lt = tag[1].strip("'").lower()  # engine stores lowered
                    if not lt:
                        # [spec] an empty tag is a per-row TYPE ERROR,
                        # not a query rejection (sweep 37)
                        return ("termx", "CAST(NULL AS STRING)",
                                SqlTag("CAST(NULL AS STRING)"), None)
                    return ("termx", lex_sql, lt, None)
                # runtime tag expression (sweep 37: non-constant tags
                # were a parse error; [spec] §17.4.2.7 takes any simple/
                # xsd:string expression — a non-string or empty tag is
                # a per-row type error)
                tg = self._string_lit_guard(tag)
                tc = self._comps_of(tag)
                tval = tc[0] if tc is not None else tag[1]
                if tag[0] in ("num", "bool", "iri", "irix") or tg == "false":
                    return ("termx", "CAST(NULL AS STRING)",
                            SqlTag("CAST(NULL AS STRING)"), None)
                lang_sql = f"lower({tval})"
                if tc is not None:
                    # must be a PLAIN string literal (no lang tag)
                    _, k2, lg2, d2 = tc
                    xs2 = _sql_str(XSD + "string")
                    lang_sql = (f"(CASE WHEN {k2} = 'literal' AND "
                                f"{lg2} IS NULL AND coalesce({d2}, "
                                f"{xs2}) = {xs2} THEN lower({tval}) "
                                f"END)")
                elif tg:
                    lang_sql = f"(CASE WHEN {tg} THEN lower({tval}) END)"
                lang_sql = f"nullif({lang_sql}, '')"
                lex_sql = (f"if(({lang_sql}) IS NOT NULL, {lex_sql}, "
                           f"NULL)")
                return ("termx", lex_sql, SqlTag(lang_sql), None)
            if tag[0] != "iri":
                raise SparqlError("STRDT needs a constant datatype IRI")
            dt = tag[1].strip("'")
            if dt == XSD + "string":
                return ("str", lex_sql)
            return ("termx", lex_sql, None, dt)
        if up == "TZ":
            # [spec] §17.4.5.8: timezone part of the LEXICAL form as a
            # simple literal ("Z", "+05:00", ... or "" when absent)
            need(1)
            return ("str", f"regexp_extract({a(0)}, "
                    f"'(Z|[+-][0-9]{{2}}:[0-9]{{2}})$', 1)")
        if up == "TIMEZONE":
            # [spec] §17.4.5.7: timezone as xsd:dayTimeDuration; a
            # dateTime without timezone is a type error (NULL)
            need(1)
            tz = (f"regexp_extract({a(0)}, "
                  f"'(Z|[+-][0-9]{{2}}:[0-9]{{2}})$', 1)")
            h = f"CAST(substring({tz}, 2, 2) AS INT)"
            m = f"CAST(substring({tz}, 5, 2) AS INT)"
            dur = (f"CASE WHEN {tz} = '' THEN NULL "
                   f"WHEN {tz} = 'Z' OR ({h} = 0 AND {m} = 0) "
                   f"THEN 'PT0S' "
                   f"ELSE concat(if(startswith({tz}, '-'), '-', ''), "
                   f"'PT', if({h} > 0, concat({h}, 'H'), ''), "
                   f"if({m} > 0, concat({m}, 'M'), '')) END")
            return ("termx", dur, None, XSD + "dayTimeDuration")
        if up in ("NOW", "RAND", "UUID", "STRUUID", "BNODE"):
            raise SparqlError(f"{up}() is nondeterministic — unsupported")
        raise SparqlError(f"unsupported function {up}")

    def _compile_expr(self, node) -> str:
        return node[1]

    # --- aggregate / projection parsing ------------------------------------
    def _parse_projection_item(self):
        t = self.peek()
        if t.kind == "VAR":
            self.take()
            return ("var", t.text)
        if t.kind == "OP" and t.text == "(":
            self.take()
            item = self._parse_agg_or_expr()
            self.expect_kw("AS")
            v = self.take()
            if v.kind != "VAR":
                raise SparqlError("projection needs (expr AS ?var)")
            self.expect_op(")")
            if item[0] == "agg":
                return ("agg", item[1], (item[2], item[3]), v.text)
            comps = self._term_companions(item[2], v.text)
            tk = self._term_key_sql(item[2], v.text)
            if tk is not None:
                comps = comps + [(TK_PREFIX + v.text, tk)]
            return ("expr", item[1], v.text, comps)
        raise SparqlError(f"unexpected {t.text!r} in SELECT clause")

    def _parse_agg_or_expr(self):
        t = self.peek()
        if (t is not None and t.kind == "NAME"
                and t.text.upper() in _AGG_TEXT
                and self.peek(1) is not None
                and self.peek(1).kind == "OP" and self.peek(1).text == "("):
            return self._parse_aggregate()
        node = self._parse_expr()
        return ("expr", self._compile_expr(node), node)

    def _parse_aggregate(self):
        name = self.take().text.upper()
        fn = _AGG_TEXT[name]
        self.expect_op("(")
        distinct = False
        if self.at_kw("DISTINCT"):
            self.take()
            distinct = True
        if self._is_op("*"):
            self.take()
            arg = "*"
        else:
            node = self._parse_expr()
            arg = node[1]
            # sum/avg numeric interpretation + §18.5 error-poisoning now
            # live in solutions._agg_col (sweep 20), which needs the RAW
            # expression to distinguish bound-non-numeric from unbound
        sep = None
        if self._is_op(";"):
            self.take()
            kw = self.take()
            if kw.kind != "NAME" or kw.text.upper() != "SEPARATOR":
                raise SparqlError("expected SEPARATOR in GROUP_CONCAT")
            self.expect_op("=")
            s = self.take()
            if s.kind != "STRING":
                raise SparqlError("SEPARATOR needs a string")
            sep = s.text
        self.expect_op(")")
        if distinct:
            if fn == "count":
                fn = "count_distinct"
            elif fn == "group_concat":
                fn = "group_concat_distinct"
            elif fn == "sum":
                fn = "sum_distinct"
            elif fn == "avg":
                fn = "avg_distinct"
            # MIN / MAX / SAMPLE: DISTINCT is a semantic no-op
            # ([spec] §18.5.1, sweep 37 — previously rejected)
        return ("agg", fn, arg, sep)

    # --- query forms --------------------------------------------------------
    def parse_query(self) -> Query:
        self.parse_prologue()
        if self.at_kw("SELECT"):
            q = self._parse_select()
        elif self.at_kw("ASK"):
            self.take()
            if self.at_kw("WHERE"):
                self.take()
            q = Query(form="ask", where=self.parse_group())
        elif self.at_kw("CONSTRUCT"):
            q = self._parse_construct()
        elif self.at_kw("DESCRIBE"):
            q = self._parse_describe()
        else:
            t = self.peek()
            raise SparqlError(
                f"expected SELECT/ASK/CONSTRUCT/DESCRIBE, "
                f"got {t.text if t else 'end of query'!r}")
        if self.at_kw("VALUES"):
            # [spec] §10.2: a ValuesClause at the end of the query joins
            # the query result with the inline table (sweep 10: this
            # position was rejected as trailing tokens)
            self.take()
            q.post_values = self._parse_values()
        q.needs_types = q.needs_types or self.needs_types
        if self.pos != len(self.toks):
            t = self.peek()
            raise SparqlError(f"trailing tokens starting at {t.text!r} "
                              f"(char {t.pos})")
        return q

    def _parse_select(self) -> Query:
        self.expect_kw("SELECT")
        distinct = False
        if self.at_kw("DISTINCT"):
            self.take()
            distinct = True
        elif self.at_kw("REDUCED"):
            self.take()
        project: list = []
        star = False
        if self._is_op("*"):
            self.take()
            star = True
        else:
            while True:
                t = self.peek()
                if t is None or self.at_kw("WHERE", "FROM") \
                        or (t.kind == "OP" and t.text == "{"):
                    break
                project.append(self._parse_projection_item())
            if not project:
                raise SparqlError("empty SELECT clause")
        if self.at_kw("FROM"):
            raise SparqlError("FROM datasets unsupported — pass the quad "
                              "DataFrame directly")
        if self.at_kw("WHERE"):
            self.take()
        where = self.parse_group()
        q = Query(form="select", where=where, distinct=distinct,
                  project=project or None, select_star=star)
        self._parse_modifiers(q)
        return q

    def _parse_construct(self) -> Query:
        self.expect_kw("CONSTRUCT")
        if self.at_kw("WHERE"):
            # [spec] §16.2.2 CONSTRUCT WHERE shortform: the WHERE block
            # is a plain BGP that doubles as the template
            self.take()
            where = self.parse_group()
            if len(where.elements) != 1 or where.elements[0][0] != "bgp":
                raise SparqlError("CONSTRUCT WHERE takes a plain "
                                  "triple-pattern block")
            if any(not isinstance(t[1], str)
                   for t in where.elements[0][1]):
                raise SparqlError("property paths not allowed in "
                                  "CONSTRUCT WHERE")
            # per the §16.2.2 expansion CONSTRUCT {P} WHERE {P}, the
            # template copy's bnodes are template-scoped
            template = [_template_scoped(t) for t in where.elements[0][1]]
            q = Query(form="construct", where=where, template=template,
                      needs_types=True)
            self._parse_modifiers(q)
            if q.group_by or q.having or q.order_by:
                raise SparqlError("CONSTRUCT supports LIMIT/OFFSET only")
            return q
        self.expect_op("{")
        template = self.parse_triples()
        if any(not isinstance(t[1], str) for t in template):
            raise SparqlError("property paths not allowed in "
                              "CONSTRUCT template")
        template = [_template_scoped(t) for t in template]
        self.expect_op("}")
        if self.at_kw("WHERE"):
            self.take()
        q = Query(form="construct", where=self.parse_group(),
                  template=template, needs_types=True)
        self._parse_modifiers(q)
        if q.group_by or q.having or q.order_by:
            raise SparqlError("CONSTRUCT supports LIMIT/OFFSET only")
        return q

    def _parse_describe(self) -> Query:
        self.expect_kw("DESCRIBE")
        terms: list[str] = []
        while True:
            t = self.peek()
            if t is None or self.at_kw("WHERE") \
                    or (t.kind == "OP" and t.text == "{"):
                break
            tok = self.take()
            if tok.kind == "VAR":
                terms.append("?" + tok.text)
            elif tok.kind == "IRIREF":
                terms.append(self.resolve_iri(tok.text))
            elif tok.kind == "PNAME":
                terms.append(self.expand_pname(tok.text, tok.pos))
            else:
                raise SparqlError(f"DESCRIBE needs ?var or IRI, "
                                  f"got {tok.text!r}")
        if not terms:
            raise SparqlError("empty DESCRIBE clause")
        where = Group()
        if self.at_kw("WHERE") or self._is_op("{"):
            if self.at_kw("WHERE"):
                self.take()
            where = self.parse_group()
        return Query(form="describe", where=where, describe_terms=terms)

    def _parse_modifiers(self, q: Query) -> None:
        if self.at_kw("GROUP"):
            self.take()
            self.expect_kw("BY")
            q.group_by = []
            q.group_binds = []
            while True:
                t = self.peek()
                if t is not None and t.kind == "VAR":
                    q.group_by.append(self.take().text)
                elif t is not None and t.kind == "OP" and t.text == "(":
                    # [spec] §11.2 GROUP BY (expr AS ?var) binds the
                    # grouping key for projection (sweep 13)
                    self.take()
                    sql = self._parse_expr()[1]
                    self.expect_kw("AS")
                    v = self.take()
                    if v.kind != "VAR":
                        raise SparqlError("GROUP BY (expr AS ?var)")
                    self.expect_op(")")
                    q.group_binds.append((sql, "?" + v.text))
                    q.group_by.append(v.text)
                else:
                    break
            if not q.group_by:
                raise SparqlError("GROUP BY needs a variable or "
                                  "(expr AS ?var)")
        if self.at_kw("HAVING"):
            self.take()
            q.having = []
            while self._is_op("("):
                self.take()
                q.having.append(self._parse_having_constraint())
                self.expect_op(")")
            if not q.having:
                raise SparqlError("HAVING needs (constraint)")
        if self.at_kw("ORDER"):
            self.take()
            self.expect_kw("BY")
            q.order_by = []
            while True:
                if self.at_kw("ASC", "DESC"):
                    d = self.take().text.lower()
                    self.expect_op("(")
                    nxt = self.peek(1)
                    if self.peek() is not None \
                            and self.peek().kind == "VAR" \
                            and nxt is not None and nxt.kind == "OP" \
                            and nxt.text == ")":
                        q.order_by.append(f"{d}(?{self.take().text})")
                    else:
                        # [spec] §15.1 OrderCondition admits any
                        # bracketted expression (sweep 13)
                        q.order_by.append(
                            ("expr",
                             self._order_key_sql(self._parse_expr()),
                             d))
                    self.expect_op(")")
                elif self.peek() is not None and self.peek().kind == "VAR":
                    q.order_by.append("?" + self.take().text)
                elif self._is_op("("):
                    self.take()
                    q.order_by.append(
                        ("expr",
                         self._order_key_sql(self._parse_expr()),
                         "asc"))
                    self.expect_op(")")
                else:
                    break
            if not q.order_by:
                raise SparqlError("empty ORDER BY")
        # LIMIT/OFFSET in either order
        for _ in range(2):
            if self.at_kw("LIMIT"):
                self.take()
                t = self.take()
                if t.kind != "NUMBER":
                    raise SparqlError("LIMIT needs an integer")
                q.limit = int(t.text)
            elif self.at_kw("OFFSET"):
                self.take()
                t = self.take()
                if t.kind != "NUMBER":
                    raise SparqlError("OFFSET needs an integer")
                q.offset = int(t.text)

    def _order_key_sql(self, node) -> str:
        """ORDER BY key SQL for a parsed expression node. Var-like and
        runtime-term nodes (IF/COALESCE over heterogeneous branches)
        sort per [spec] §15.1 term-kind order — unbound < bnode < IRI <
        literal, numeric literals by value — via the same struct shape
        as solutions._term_sort_sql (sweep 39: an expression key mixing
        bnodes and literals sorted lexically, so bnodes interleaved
        with literals). Statically-classed nodes keep their raw SQL
        (uniform kind — relative order unchanged)."""
        comps = self._comps_of(node)
        if comps is None:
            return node[1]
        val, kind, lang, dt = comps
        kindflag = (f"CASE WHEN {val} IS NULL THEN 0 "
                    f"WHEN {kind} = 'bnode' THEN 1 "
                    f"WHEN {kind} = 'iri' THEN 2 ELSE 3 END")
        cast = f"try_cast({val} AS DOUBLE)"
        numflag = f"CASE WHEN {cast} IS NOT NULL THEN 0 ELSE 1 END"
        return f"struct({kindflag}, {numflag}, {cast}, {val})"

    def _parse_having_constraint(self) -> tuple:
        """HAVING constraint: either an aggregate comparison
        (compiled to a hidden aggregate + filter) or a plain
        expression over group keys / SELECT aliases."""
        t = self.peek()
        if (t is not None and t.kind == "NAME"
                and t.text.upper() in _AGG_TEXT):
            agg = self._parse_aggregate()
            op_t = self.take()
            if op_t.kind != "OP" or op_t.text not in self._REL_OPS:
                raise SparqlError("HAVING aggregate needs a comparison")
            rhs = self._parse_expr()
            # compile via the §17.3 operator mapping with a typed
            # placeholder node for the (not-yet-named) aggregate
            # column: COUNT/SUM/AVG are numeric, GROUP_CONCAT is a
            # string, MIN/MAX ride their post-aggregation term
            # companions ("any"); _eval_select substitutes the real
            # column name (sweep 38: the raw `col op rhs` SQL crashed
            # on typed-literal rhs and compared MIN lexically)
            base = agg[1].replace("_distinct", "")
            if base in ("count", "sum", "avg"):
                lhs = ("num", _qcol(_HAVING_PLACEHOLDER))
            elif base == "group_concat":
                lhs = ("str", _qcol(_HAVING_PLACEHOLDER))
            else:
                lhs = ("any", _qcol(_HAVING_PLACEHOLDER))
            cmp_sql = self._rel_cmp(lhs, rhs,
                                    self._REL_OPS[op_t.text])[1]
            return ("agg_cmp", agg, cmp_sql)
        # [spec] §18.2.4.4: HAVING is a Filter over the aggregated
        # solutions — the constraint is its EBV, same as FILTER
        # (sweep 38: `HAVING (?key)` over a string group key raised
        # FILTER_NOT_BOOLEAN instead of testing non-emptiness)
        return ("expr", self._ebv(self._parse_expr()))


def _qcol(name: str) -> str:
    return f"`{name}`"


# stand-in column name for a HAVING aggregate compiled before its
# (possibly hidden) output alias is chosen; _eval_select substitutes
_HAVING_PLACEHOLDER = "__hvagg__"


def _uncol(sql: str) -> str | None:
    m = re.fullmatch(r"`(\w+)`", sql)
    return m.group(1) if m else None


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _ord_class(node):
    """Value class of a compiled node for the §17.3 operator-mapping
    rows — ``(cls, sql)`` with cls ∈ num/str/bool/dt and sql coerced to
    that class's comparable SQL representation, or None when the node
    is outside every mapping row (IRIs, lang-tagged or unknown-datatype
    literals) or is a variable (callers dispatch those on companions)."""
    tag, sql = node[0], node[1]
    if tag in ("num", "str", "bool"):
        return (tag, sql)
    if tag in ("lit", "termx"):
        lang, dt = node[2], node[3]
        if isinstance(lang, SqlTag):
            # runtime tag: comparable as a string only where untagged
            if dt is None or dt == XSD + "string":
                return ("str",
                        f"(CASE WHEN {lang.sql} IS NULL THEN {sql} END)")
            return None
        if lang:
            return None
        if dt in _NUMERIC_DATATYPES:
            return ("num", f"try_cast({sql} AS DOUBLE)")
        if dt is None or dt == XSD + "string":
            return ("str", sql)
        if dt == XSD + "boolean":
            return ("bool", f"({sql} IN ('true', '1'))")
        if dt == XSD + "dateTime":
            return ("dt", f"try_cast({sql} AS TIMESTAMP)")
    return None


def _numeric_const(node):
    """A numeric-DATATYPED literal constant ("7"^^xsd:integer) takes
    part in comparisons by VALUE, not lexical form ([spec] §17.3
    operator mapping; sweep 25: ?a > "20"^^xsd:integer compared the
    lexical strings). Invalid lexicals become NULL → type error."""
    if node[0] == "lit" and not node[2] and node[3] in _NUMERIC_DATATYPES:
        return ("num", f"try_cast({node[1]} AS DOUBLE)")
    return node


# XPath numeric promotion classes ([spec] §17.3 operator mapping /
# XPath op:numeric-*): 0 integer (and its derived family), 1 decimal,
# 2 float, 3 double. VALUES are computed in DOUBLE throughout (the
# engine's documented representation); the CLASS rides along on "num"
# nodes so DATATYPE()/STR() of computed numerics report the promoted
# datatype and integer lexical forms (sweep 37).
_CLS_DT = (XSD + "integer", XSD + "decimal", XSD + "float",
           XSD + "double")
_INT_FAMILY = tuple(d for d in _NUMERIC_DATATYPES
                    if d not in _CLS_DT[1:])


def _num_cls(node, typ=None):
    """Promotion class of a node's numeric value — an int when known
    statically, else a SQL INT expression over the variable's datatype
    companion. The try_cast-leniency shapes (plain literals, unknown
    computed values) land on 3/double, matching their double
    representation."""
    tag = node[0]
    if tag == "num":
        return node[2] if len(node) > 2 else 3
    if tag in ("lit", "termx"):
        lang, dt = node[2], node[3]
        if isinstance(lang, SqlTag) or isinstance(dt, SqlTag):
            return 3
        if dt in _INT_FAMILY:
            return 0
        if dt == XSD + "decimal":
            return 1
        if dt == XSD + "float":
            return 2
        return 3
    d = None
    if tag == "termr":
        d = node[4]
    elif tag == "any" and typ is not None:
        v = _uncol(node[1])
        if v is not None:
            d = typ(v, "datatype")
    if d is not None:
        ints = ", ".join(_sql_str(x) for x in _INT_FAMILY)
        return (f"(CASE WHEN {d} IN ({ints}) THEN 0 "
                f"WHEN {d} = {_sql_str(XSD + 'decimal')} THEN 1 "
                f"WHEN {d} = {_sql_str(XSD + 'float')} THEN 2 "
                f"ELSE 3 END)")
    return 3


def _arith_sql(x: str, op: str, y: str, cls) -> str:
    """Binary numeric op SQL. Division follows XPath op:numeric-divide
    (sweep 39): float/double operands use IEEE semantics (x/0 → ±INF,
    0/0 → NaN), integer/decimal division by zero is a TYPE ERROR
    (NULL) — a raw ``/`` raised Spark's ANSI DIVIDE_BY_ZERO at
    runtime for both classes. ``cls`` is the promoted class (int
    constant or runtime SQL)."""
    if op != "/":
        return f"({x} {op} {y})"
    xd, yd = f"CAST(({x}) AS DOUBLE)", f"CAST(({y}) AS DOUBLE)"
    ieee = (f"(CASE WHEN {yd} = 0.0D THEN "
            f"(CASE WHEN {xd} = 0.0D OR isnan({xd}) "
            f"THEN CAST('NaN' AS DOUBLE) "
            f"WHEN ({xd} < 0.0D) != (CAST(({y}) AS STRING) LIKE '-%') "
            f"THEN CAST('-Infinity' AS DOUBLE) "
            f"ELSE CAST('Infinity' AS DOUBLE) END) "
            f"ELSE {xd} / {yd} END)")
    err0 = (f"(CASE WHEN {yd} = 0.0D THEN CAST(NULL AS DOUBLE) "
            f"ELSE {xd} / {yd} END)")
    if isinstance(cls, int):
        return ieee if cls >= 2 else err0
    return f"(CASE WHEN ({cls}) >= 2 THEN {ieee} ELSE {err0} END)"


def _cls_promote(a, b, div: bool = False):
    """Promoted class of a binary numeric op; ``div``: op:numeric-divide
    returns decimal for two integer operands."""
    if isinstance(a, int) and isinstance(b, int):
        c = max(a, b)
        return 1 if div and c == 0 else c
    g = f"greatest({a}, {b})"
    if div:
        return f"(CASE WHEN {g} = 0 THEN 1 ELSE {g} END)"
    return g


def _cls_dt_sql(cls) -> str:
    """SQL producing the datatype IRI of a promotion class."""
    if isinstance(cls, int):
        return _sql_str(_CLS_DT[cls])
    arr = ", ".join(_sql_str(d) for d in _CLS_DT)
    return f"element_at(array({arr}), {cls} + 1)"


def _as_num(node, typ=None) -> str:
    """Numeric coercion of a compiled node ([spec] §17.3 operand rules,
    sweep 37): booleans, IRIs, and literals with a known non-numeric
    typing are TYPE ERRORS (NULL) — previously a bool operand flowed
    raw into ``+``/``-`` and Spark raised DATATYPE_MISMATCH at analysis
    time, and lang-tagged literals silently try_cast. Variables
    dispatch on their companions when ``typ`` (the parser's companion
    accessor) is provided: literal, no lang tag, datatype numeric or
    unknown/xsd:string (the documented try_cast leniency for simple
    literals and computed columns). 'str' results keep the try_cast
    leniency — their lexical either parses or NULLs."""
    tag, sql = node[0], node[1]
    if tag == "num":
        return sql
    if tag in ("bool", "iri", "irix"):
        return "CAST(NULL AS DOUBLE)"
    if tag in ("lit", "termx"):
        lang, dt = node[2], node[3]
        if isinstance(lang, SqlTag):
            # runtime lang tag (string-fn propagation): numeric only
            # for the untagged rows
            return (f"(CASE WHEN {lang.sql} IS NULL "
                    f"THEN try_cast({sql} AS DOUBLE) "
                    f"ELSE CAST(NULL AS DOUBLE) END)")
        if lang:
            return "CAST(NULL AS DOUBLE)"
        if dt is None or dt == XSD + "string" \
                or dt in _NUMERIC_DATATYPES:
            return f"try_cast({sql} AS DOUBLE)"
        return "CAST(NULL AS DOUBLE)"
    comps = None
    if tag == "termr":
        comps = (node[1], node[2], node[3], node[4])
    elif tag == "any" and typ is not None:
        v = _uncol(sql)
        if v is not None:
            comps = (_qcol(v), typ(v, "kind"), typ(v, "lang"),
                     typ(v, "datatype"))
    if comps is not None:
        val, k, lg, d = comps
        nums = ", ".join(_sql_str(x) for x in _NUMERIC_DATATYPES)
        xs = _sql_str(XSD + "string")
        return (f"(CASE WHEN {k} = 'literal' AND {lg} IS NULL "
                f"AND ({d} IS NULL OR {d} = {xs} OR {d} IN ({nums})) "
                f"THEN try_cast({val} AS DOUBLE) "
                f"ELSE CAST(NULL AS DOUBLE) END)")
    return f"try_cast({sql} AS DOUBLE)"


def _canon_number(text: str) -> str:
    """Numeric literal → the engine's canonical lexical form for
    pattern matching (integers bare, decimals/doubles via repr)."""
    if re.fullmatch(r"[+-]?\d+", text):
        return str(int(text))
    return repr(float(text))


def parse_query(query: str) -> Query:
    """Parse SPARQL text to the internal Query tree (exposed for tests)."""
    return _Parser(query).parse_query()


# ---------------------------------------------------------------------------
# evaluation
# ---------------------------------------------------------------------------


def _split_tk(shared):
    """Partition a shared-column list into (value vars, term keys)."""
    vals = [c for c in shared if not c.startswith(TK_PREFIX)]
    tks = [c for c in shared if c.startswith(TK_PREFIX)]
    return vals, tks


def _merge(acc: DataFrame | None, df: DataFrame, how: str = "inner",
           ) -> DataFrame:
    """Join two solution tables on their shared variable columns.
    Companion (``__typ_*``) columns never join; duplicated companions
    keep the left side (first-binder-wins typing). Shared TERM-KEY
    (``__tk_*``) columns join null-compatibly — exact term equality
    where both sides know the term's kind/typing, value equality where
    one side lacks it (paths, unions with differing shapes) — so a
    missing key can never DROP a row that value semantics kept
    (sweep 37)."""
    if acc is None:
        return df
    dup = [c for c in _companion_cols(df.columns) if c in acc.columns]
    if dup:
        df = df.drop(*dup)
    shared = sorted((set(acc.columns) & set(df.columns))
                    - set(_companion_cols(acc.columns)))
    vals, tks_all = _split_tk(shared)
    tks = [t for t in tks_all if t[len(TK_PREFIX):] in vals]
    orphans = [t for t in tks_all if t not in tks]
    if orphans:
        df = df.drop(*orphans)
    lt, rt = dict(acc.dtypes), dict(df.dtypes)
    mism = {c for c in vals if lt.get(c) != rt.get(c)}
    if vals:
        if not tks and not mism:
            return acc.join(df, on=vals, how=how)
        ren = df
        for c in vals + tks:
            ren = ren.withColumnRenamed(c, f"__r_{c}")
        cond = F.lit(True)
        for c in vals:
            l, r = F.col(c), F.col(f"__r_{c}")
            if c in mism:
                # typed BIND column vs string solution column
                # (sweep 37: the raw '=' implicit-cast crashed under
                # ANSI) — compare lexical string forms
                l, r = l.cast("string"), r.cast("string")
            cond = cond & (l == r)
        for c in tks:
            l, r = F.col(c), F.col(f"__r_{c}")
            cond = cond & (l.isNull() | r.isNull() | (l == r))
        out = acc.join(ren, on=cond, how=how)
        for c in vals + tks:
            if c in mism:   # keep the left (typed) column
                out = out.drop(f"__r_{c}")
            else:
                out = (out.withColumn(c, F.coalesce(F.col(c),
                                                    F.col(f"__r_{c}")))
                          .drop(f"__r_{c}"))
        return out
    if how == "left":     # OPTIONAL with no shared vars: keep all left rows
        return acc.join(df, on=F.lit(True), how="left")
    return acc.crossJoin(df)


def _compat_merge(acc: DataFrame, df: DataFrame, how: str,
                  soft: list[str]) -> DataFrame:
    """Solution-compatibility join ([spec] §18.3): shared variables in
    ``soft`` may be UNBOUND (null) on EITHER side — an unbound var is
    compatible with any binding of the other side and takes it in the
    merged row (coalesce below). Used when VALUES UNDEF wildcards,
    union-branch-missing vars, OPTIONAL-added vars, or error-able BIND
    targets flow into later joins (sweep 38)."""
    # companions of SOFT vars follow the side that supplies the value
    # (a right-bound value with left-dropped companions would lose its
    # term typing — sweep 38); other duplicated companions keep the
    # left side as in _merge
    soft_comps = {c for v in soft for c in df.columns
                  if c in (f"{TYPED_PREFIX}{v}__kind",
                           f"{TYPED_PREFIX}{v}__lang",
                           f"{TYPED_PREFIX}{v}__datatype")
                  and c in acc.columns}
    dup = [c for c in _companion_cols(df.columns)
           if c in acc.columns and c not in soft_comps]
    if dup:
        df = df.drop(*dup)
    shared = sorted((set(acc.columns) & set(df.columns))
                    - set(_companion_cols(acc.columns)))
    lt, rt = dict(acc.dtypes), dict(df.dtypes)
    mism = {c for c in shared if lt.get(c) != rt.get(c)}
    ren = df
    for c in shared:
        ren = ren.withColumnRenamed(c, f"__r_{c}")
    for c in soft_comps:
        ren = ren.withColumnRenamed(c, f"__r_{c}")
    cond = F.lit(True)
    for c in shared:
        l, r = F.col(c), F.col(f"__r_{c}")
        if c in mism:
            l, r = l.cast("string"), r.cast("string")
        eq = r == l
        if c.startswith(TK_PREFIX) or c in soft:
            # term keys and maybe-unbound vars: null-compatible
            cond = cond & (l.isNull() | r.isNull() | eq)
        else:
            cond = cond & eq
    out = acc.join(ren, on=cond, how=how)
    for v in soft:
        take_right = F.col(v).isNull() & F.col(f"__r_{v}").isNotNull()
        for w in ("kind", "lang", "datatype"):
            cc = f"{TYPED_PREFIX}{v}__{w}"
            if cc in soft_comps:
                out = (out.withColumn(
                    cc, F.when(take_right, F.col(f"__r_{cc}"))
                         .otherwise(F.col(cc)))
                    .drop(f"__r_{cc}"))
    for c in shared:
        if c in mism:
            out = out.drop(f"__r_{c}")
        else:
            out = (out.withColumn(c, F.coalesce(F.col(c),
                                                F.col(f"__r_{c}")))
                      .drop(f"__r_{c}"))
    return out


def _merge_values(acc: DataFrame | None, names: list[str],
                  rows: list[tuple], spark) -> DataFrame:
    """Join a solution table with an inline VALUES table ([spec] §10.2).
    ``None`` cells (UNDEF) are wildcards: compatible with ANY binding of
    that variable in that row (sweep 10: UNDEF rows silently matched
    nothing because the equi-join compared against NULL). Cells arrive
    as engine term spellings (encoded literals / IRIs, sweep 37) and
    unfold into value + companion + term-key columns, so VALUES terms
    join and project with full typing."""
    cols: list[str] = []
    for n in names:
        cols += [n, f"{TYPED_PREFIX}{n}__kind", f"{TYPED_PREFIX}{n}__lang",
                 f"{TYPED_PREFIX}{n}__datatype", f"{TK_PREFIX}{n}"]
    data = []
    for r in rows:
        row: list = []
        for cell in r:
            if cell is None:
                row += [None, None, None, None, None]
            else:
                lit = decode_literal(cell)
                if lit is not None:
                    v, lang, dt = lit
                    row += [v, "literal", lang,
                            dt if dt and dt != XSD + "string" else None,
                            term_key_of("literal", dt, lang)]
                elif cell.startswith("_:"):
                    row += [cell, "bnode", None, None, "bnode"]
                else:
                    row += [cell, "iri", None, None, "iri"]
        data.append(tuple(row))
    schema = ", ".join(f"`{c}` string" for c in cols)
    vdf = local_frame(spark, data, schema)
    if acc is None:
        return vdf
    shared = [n for n in names if n in acc.columns]
    if not shared:
        return acc.crossJoin(vdf)
    dupc = [c for c in _companion_cols(vdf.columns) if c in acc.columns]
    if dupc:
        vdf = vdf.drop(*dupc)
    lt = dict(acc.dtypes)
    vren = vdf
    cond = F.lit(True)
    join_tks = []
    mism = set()
    for n in shared:
        vren = vren.withColumnRenamed(n, f"__val_{n}")
        l = F.col(n)
        if lt.get(n) != "string":
            l = l.cast("string")
            mism.add(n)
        cond = cond & (F.col(f"__val_{n}").isNull()
                       | l.isNull()
                       | (F.col(f"__val_{n}") == l))
        tk = f"{TK_PREFIX}{n}"
        if tk in acc.columns:
            join_tks.append(tk)
            vren = vren.withColumnRenamed(tk, f"__val_{tk}")
            cond = cond & (F.col(f"__val_{tk}").isNull()
                           | F.col(tk).isNull()
                           | (F.col(f"__val_{tk}") == F.col(tk)))
    out = acc.join(vren, on=cond, how="inner")
    for n in shared:
        if n in mism:   # typed BIND column: keep the left side
            out = out.drop(f"__val_{n}")
        else:
            out = (out.withColumn(n, F.coalesce(F.col(n),
                                                F.col(f"__val_{n}")))
                      .drop(f"__val_{n}"))
    for tk in join_tks:
        out = (out.withColumn(tk, F.coalesce(F.col(tk),
                                             F.col(f"__val_{tk}")))
                  .drop(f"__val_{tk}"))
    for n in shared:
        # rows matched through an UNDEF cell keep the acc binding with
        # the VALUES table's NULL companions — shape-fallback the kind
        # (the acc binding can only be positional IRI/bnode here: an
        # object-position binder would have brought its own companions
        # and the VALUES copies were dropped above) (sweep 37: EBV of
        # such rows misread NULL-kind as a plain literal)
        kc = f"{TYPED_PREFIX}{n}__kind"
        if kc in out.columns and kc not in acc.columns:
            shape = (F.when(F.col(n).startswith("_:"), F.lit("bnode"))
                     .otherwise(F.lit("iri")))
            out = out.withColumn(
                kc, F.coalesce(F.col(kc),
                               F.when(F.col(n).isNotNull(), shape)))
        tk = f"{TK_PREFIX}{n}"
        if tk in out.columns and tk not in acc.columns:
            shape = (F.when(F.col(n).startswith("_:"), F.lit("bnode"))
                     .otherwise(F.lit("iri")))
            out = out.withColumn(
                tk, F.coalesce(F.col(tk),
                               F.when(F.col(n).isNotNull(), shape)))
    return out


def _template_scoped(triple: tuple) -> tuple:
    """Template blank nodes ([spec] §16.2.1, Update §3.1.3) are scoped
    to the TEMPLATE (even when a WHERE pattern reuses the label), a
    fresh bnode per solution: ``?__bn_x`` → ``?__tbn_x`` at any quoted
    depth, so instantiation mints per-row ids instead of reading a
    WHERE binding of the same label."""
    return map_leaves(("qt", *triple), lambda x: "?__tbn_" + x[6:]
                      if _is_var(x) and x.startswith("?__bn_") else x)[1:]


def _mint_template_bnodes(sols: DataFrame, template: list[tuple],
                          prefix: str) -> DataFrame:
    """One fresh bnode column per ``?__tbn_*`` template label and
    solution row: ``<prefix><label index>_`` + a 64-bit hash of the
    full row, deterministic and partitioning-independent (identical
    solutions share one minted bnode, keeping updates replayable)."""
    labels = sorted({x[1:] for t in template for x in leaves(("qt", *t))
                     if _is_var(x) and x.startswith("?__tbn_")})
    if labels:
        cols = [F.col(c) for c in sols.columns]
        row_id = F.lower(F.hex(F.xxhash64(*cols))) if cols else F.lit("0")
        for i, lab in enumerate(labels):
            sols = sols.withColumn(lab, F.concat(F.lit(f"{prefix}{i}_"),
                                                 row_id))
    return sols


def _eval_bgp(quads: DataFrame, triples: list[tuple], graph: str | None,
              with_types: bool, stats) -> DataFrame:
    plain = [(s, p, o) for s, p, o in triples if isinstance(p, str)]
    paths = [(s, p, o) for s, p, o in triples if not isinstance(p, str)]
    if paths and graph is not None and _is_var(graph):
        raise SparqlError("property paths inside GRAPH ?var are "
                          "unsupported (v1)")
    acc: DataFrame | None = None
    if plain:
        acc = match_bgp(quads, plain, distinct=False, stats=stats,
                        with_types=with_types, graph=graph,
                        keep_term_keys=True)
    for s, p, o in paths:
        pg = "*" if graph == "*" else graph
        acc = _merge(acc, match_path(quads, s, p, o, graph=pg,
                                     distinct=True))
    return acc


def _has_null_rows(df: DataFrame, cols: list[str]) -> bool:
    """Bounded probe: does any row hold NULL in one of ``cols``?
    Schema-level nullability short-circuits the scan when Spark can
    prove the columns non-nullable."""
    fields = {f.name: f for f in df.schema.fields}
    check = [c for c in cols if c not in fields or fields[c].nullable]
    if not check:
        return False
    cond = None
    for c in check:
        n = F.col(c).isNull()
        cond = n if cond is None else (cond | n)
    return df.where(cond).limit(1).count() > 0


def _compat_filter(acc: DataFrame, sub: DataFrame, shared: list[str],
                   positive: bool, require_overlap: bool = False,
                   ) -> DataFrame:
    """Compatibility semi/anti join ([spec] §18.6 EXISTS substitution /
    §8.3 MINUS): a NULL solution cell is an UNBOUND variable —
    compatible with any binding. Sweep 37: the old pure equi-join
    treated NULL ≠ everything, so EXISTS under OPTIONAL-produced NULLs
    was false and MINUS kept rows a bound-overlap should remove.

    Scale posture: the equi semi/anti fast path runs whenever neither
    side actually holds NULLs in the shared columns (two bounded
    limit-1 probes, schema-short-circuited); the condition-join slow
    path only triggers for solution tables that really carry unbound
    shared vars — mid-query tables, never the base quad scan.
    ``require_overlap`` (MINUS): a pair must share at least one bound
    variable to exclude."""
    how = "left_semi" if positive else "left_anti"
    vals, tks_all = _split_tk(shared)
    tks = [t for t in tks_all
           if t[len(TK_PREFIX):] in vals
           and t in acc.columns and t in sub.columns]
    shared = vals + tks
    if not vals:
        return acc.join(sub.limit(1), on=F.lit(True), how=how)
    sub_s = sub.select(*shared)
    lt, rt = dict(acc.dtypes), dict(sub_s.dtypes)
    mism = {c for c in vals if lt.get(c) != rt.get(c)}
    if not tks and not mism and not _has_null_rows(sub_s, vals) \
            and not _has_null_rows(acc, vals):
        return acc.join(sub_s, on=vals, how=how)
    r = sub_s.dropDuplicates()
    for c in shared:
        r = r.withColumnRenamed(c, f"__cmp_{c}")
    compat = F.lit(True)
    overlap = F.lit(False)
    for c in shared:
        l, rr = F.col(c), F.col(f"__cmp_{c}")
        if c in mism:
            l, rr = l.cast("string"), rr.cast("string")
        compat = compat & (l.isNull() | rr.isNull() | (l == rr))
        if not c.startswith(TK_PREFIX):
            # MINUS's dom-overlap test counts VARIABLES, not term keys
            overlap = overlap | (l.isNotNull() & rr.isNotNull())
    cond = (compat & overlap) if require_overlap else compat
    return acc.join(r, on=cond, how=how)


def _exists_flag(acc: DataFrame, sub: DataFrame, marker: str,
                 ) -> DataFrame:
    """Materialize an EXISTS marker column: True on rows with a
    compatible solution in ``sub``, False elsewhere (row multiset
    unchanged — semi + anti partition)."""
    shared = sorted((set(acc.columns) & set(sub.columns))
                    - set(_companion_cols(acc.columns)))
    yes = _compat_filter(acc, sub, shared, positive=True)
    no = _compat_filter(acc, sub, shared, positive=False)
    return (yes.withColumn(marker, F.lit(True))
            .unionByName(no.withColumn(marker, F.lit(False))))


def _group_var_sets(group: Group) -> tuple[set[str], set[str]]:
    """Static binding analysis of a group pattern: ``(certain,
    maybe)`` — vars bound in EVERY solution vs vars that may be
    UNBOUND in some solutions (OPTIONAL-added, union-branch-missing,
    error-able BIND targets, VALUES UNDEF cells, subquery
    projections). Joins must treat ``maybe`` vars null-compatibly
    ([spec] §18.3 solution compatibility — sweep 38: a var bound in
    only one UNION branch joined as a NULL key and dropped every
    cross-branch row)."""
    certain: set[str] = set()
    maybe: set[str] = set()
    for el in group.elements:
        k = el[0]
        if k == "bgp":
            certain |= set().union(*map(_pattern_vars, el[1]))
        elif k == "optional":
            c2, m2 = _group_var_sets(el[1])
            maybe |= (c2 | m2) - certain
        elif k == "union":
            pairs = [_group_var_sets(b) for b in el[1]]
            c_all = set.intersection(*[c for c, _ in pairs]) \
                if pairs else set()
            m_all = set().union(*[(c | m) for c, m in pairs]) - c_all
            certain |= c_all
            maybe |= m_all - certain
        elif k == "bind":
            v = el[2]
            if not v.startswith((TYPED_PREFIX, TK_PREFIX)):
                maybe.add(v)        # expression error → var unbound
        elif k == "values":
            _, names, rows = el
            undef = {n for i, n in enumerate(names)
                     if any(r[i] is None for r in rows)}
            certain |= set(names) - undef
            maybe |= undef - certain
        elif k == "graph":
            c2, m2 = _group_var_sets(el[2])
            certain |= c2
            if _is_var(el[1]):
                certain.add(el[1][1:])
            maybe |= m2 - certain
        elif k == "subselect":
            qq = el[1]
            c2, m2 = _group_var_sets(qq.where)
            if qq.select_star:
                certain |= c2
                maybe |= m2 - certain
            else:
                for item in qq.project or []:
                    if item[0] == "var":
                        if item[1] in c2:
                            certain.add(item[1])
                        else:
                            maybe.add(item[1])
                    elif item[0] == "expr":
                        maybe.add(item[2])
                    elif item[0] == "agg":
                        maybe.add(item[3])
        # minus / filter / exists bind nothing
    return certain, maybe - certain


def _eval_group(quads: DataFrame, group: Group, *, graph: str | None = None,
                with_types: bool = False, stats=None) -> DataFrame:
    """Evaluate a group graph pattern to a solution DataFrame.
    Elements join in document order; FILTER constraints (including
    EXISTS groups) apply over the whole group, per spec."""
    spark = quads.sparkSession
    acc: DataFrame | None = None
    deferred: list = []   # ("filter", sql) | ("exists", Group, positive)
    certain: set[str] = set()   # vars bound in EVERY acc solution
    maybe: set[str] = set()     # vars that may be NULL in acc rows

    def ev(g: Group) -> DataFrame:
        return _eval_group(quads, g, graph=graph, with_types=with_types,
                           stats=stats)

    def merge(df: DataFrame, how: str = "inner",
              el_c: set | frozenset = frozenset(),
              el_m: set | frozenset = frozenset()) -> DataFrame:
        """Join ``df`` into ``acc``, null-compatibly on any shared var
        that MAY be unbound on either side ([spec] §18.3 — sweep 38);
        ``el_c`` / ``el_m`` are the element's certainly- /
        maybe-bound vars, folded into the group's running sets."""
        nonlocal certain, maybe
        if acc is None:
            res = df
        else:
            soft = sorted((maybe | set(el_m))
                          & set(acc.columns) & set(df.columns))
            res = _compat_merge(acc, df, how, soft) if soft \
                else _merge(acc, df, how)
        if how == "left":
            maybe |= (set(el_c) | set(el_m)) - certain
        else:
            certain |= set(el_c)
            maybe = (maybe | set(el_m)) - certain
        return res

    def attach_exists(df: DataFrame, sql: str) -> DataFrame:
        """Materialize the EXISTS markers this SQL references
        (sweep 37: embedded EXISTS compiles to a marker column)."""
        for marker, sub_g in group.exists_defs.items():
            if marker in sql and marker not in df.columns:
                df = _exists_flag(df, ev(sub_g), marker)
        return df

    for el in group.elements:
        kind = el[0]
        if kind == "bgp":
            acc = merge(_eval_bgp(quads, el[1], graph, with_types, stats),
                        el_c=set().union(*map(_pattern_vars, el[1])))
        elif kind == "optional":
            oc, om = _group_var_sets(el[1])
            acc = merge(ev(el[1]), how="left", el_c=oc, el_m=om)
        elif kind == "union":
            branches = [ev(b) for b in el[1]]
            # a typed BIND column (boolean/numeric) unioning with a
            # lexical string column must align by LEXICAL form —
            # unionByName would insert an ANSI string→typed cast that
            # crashes on real term spellings (sweep 38: IRI 'http://…'
            # cast to BOOLEAN); same convention as _merge's mism casts
            col_types: dict[str, set] = {}
            for b in branches:
                for c, t in b.dtypes:
                    col_types.setdefault(c, set()).add(t)
            for i, b in enumerate(branches):
                for c, t in b.dtypes:
                    if len(col_types[c]) > 1 and t != "string":
                        branches[i] = branches[i].withColumn(
                            c, F.col(c).cast("string"))
            u = branches[0]
            for b in branches[1:]:
                u = u.unionByName(b, allowMissingColumns=True)
            pairs = [_group_var_sets(b) for b in el[1]]
            uc = set.intersection(*[c for c, _ in pairs])
            um = set().union(*[(c | m) for c, m in pairs]) - uc
            acc = merge(u, el_c=uc, el_m=um)
        elif kind == "minus":
            sub = ev(el[1])
            shared = sorted(set(acc.columns if acc is not None else [])
                            & set(sub.columns))
            shared = [c for c in shared if not c.startswith(TYPED_PREFIX)]
            if acc is not None and shared:
                acc = _compat_filter(acc, sub, shared, positive=False,
                                     require_overlap=True)
            # domain-disjoint MINUS removes nothing (spec rule)
        elif kind == "bind":
            _, sql, var = el
            if acc is None:
                acc = spark.range(1).select(F.lit(1).alias("__unit"))
            acc = attach_exists(acc, sql)
            if var in acc.columns:
                raise SparqlError(f"BIND would rebind ?{var}")
            acc = acc.withColumn(
                var, F.expr(patch_companion_refs(sql, acc.columns)))
            if not var.startswith((TYPED_PREFIX, TK_PREFIX)):
                # expression error → NULL → var unbound for that row;
                # later joins on it must stay null-compatible
                maybe.add(var)
        elif kind == "values":
            _, names, rows = el
            undef_vars = {n for i, n in enumerate(names)
                          if any(r[i] is None for r in rows)}
            acc = _merge_values(acc, names, rows, spark)
            # UNDEF cells survive as nulls only for vars the solutions
            # didn't already bind — later joins must treat those as
            # compatibility wildcards
            maybe |= {n for n in undef_vars if n in acc.columns}
            certain |= set(names) - undef_vars
            maybe -= certain
        elif kind == "graph":
            _, term, sub = el
            gc, gm = _group_var_sets(sub)
            if _is_var(term):
                gc = gc | {term[1:]}
            acc = merge(_eval_group(
                quads, sub, graph=term, with_types=with_types,
                stats=stats), el_c=gc, el_m=gm)
        elif kind == "subselect":
            # Bottom-up per spec: the subquery evaluates against the
            # dataset (inheriting any active GRAPH scope), its solution
            # modifiers apply, and ONLY its projected variables join
            # the enclosing group. Their typed companions cross the
            # boundary with them (sweep 38: they used to be dropped,
            # so a subquery-projected "5"^^xsd:integer surfaced as a
            # plain literal in the outer solutions).
            subq = el[1]
            sub_g = Group()
            sub_g.elements = [el]
            sc, sm = _group_var_sets(sub_g)
            if with_types:
                subq.keep_types = subq.needs_types = True
            ssols = _eval_group(quads, subq.where, graph=graph,
                                with_types=with_types, stats=stats)
            acc = merge(_eval_select(ssols, subq), el_c=sc, el_m=sm)
        elif kind in ("filter", "exists"):
            deferred.append(el)
        else:  # pragma: no cover
            raise SparqlError(f"unknown group element {kind}")

    if acc is None:
        acc = spark.range(1).select(F.lit(1).alias("__unit"))
    for el in deferred:
        if el[0] == "filter":
            acc = attach_exists(acc, el[1])
            acc = acc.where(F.expr(patch_companion_refs(el[1],
                                                        acc.columns)))
        else:
            _, sub_g, positive = el
            sub = ev(sub_g)
            shared = sorted(
                (set(acc.columns) & set(sub.columns))
                - set(_companion_cols(acc.columns)))
            acc = _compat_filter(acc, sub, shared, positive)
    drop_cols = [c for c in ("__unit", *group.exists_defs)
                 if c in acc.columns]
    if drop_cols:
        acc = acc.drop(*drop_cols)
    return acc


def _describe(quads: DataFrame, nodes: DataFrame) -> DataFrame:
    """Concise bounded description: all quads whose subject is in
    ``nodes``, plus (recursively, to the fixpoint) quads describing
    blank nodes reached in object position — semi-join rounds, each a
    small broadcast-able frontier, so a long RDF list is described to
    its end."""
    def step(frontier, seen, _):
        return (quads.join(frontier.withColumnRenamed("node", "s"),
                           on="s", how="left_semi")
                .where(F.col("o_kind") == "bnode")
                .select(F.col("o_value").alias("node")).distinct()
                .join(seen, on="node", how="left_anti"))

    seen = frontier_rounds(nodes.select(F.col("node")).distinct(), step)
    return quads.join(seen.withColumnRenamed("node", "s"),
                      on="s", how="left_semi")


def sparql(quads: DataFrame, query: str, *, stats: dict | None = None,
           keep_types: bool = False) -> DataFrame:
    """Run a SPARQL query string over a quad table.

    Returns a DataFrame: one column per projected variable (SELECT), a
    single boolean ``ask`` row (ASK), or a quad-schema table
    (CONSTRUCT / DESCRIBE). The text layer only *declares* the plan —
    all physical decisions stay with Catalyst/AQE, identical to calling
    the kwargs surface directly.
    """
    q = parse_query(query)
    if keep_types:
        # results serializers (operators/results.py) want exact term
        # typing on the projection — force companion capture and keep
        # the __typ_* columns of projected vars in the output
        q.keep_types = q.needs_types = True
    if any(not isinstance(k, tuple) for k in (q.order_by or [])):
        # §15.1 orders by term KIND first (unbound < bnode < IRI <
        # literal) — ORDER BY over a plain variable needs its kind
        # companion captured so select_solutions can sort term-aware
        # (sweep 20); expression keys compile their own guards.
        q.needs_types = True
    sols = _eval_group(quads, q.where, with_types=q.needs_types,
                       stats=stats)
    if q.post_values is not None:
        # [spec] §18.2.2.5: the trailing VALUES table joins the WHERE
        # solutions BEFORE grouping / solution modifiers
        _, vnames, vrows = q.post_values
        sols = _merge_values(sols, vnames, vrows, quads.sparkSession)

    if q.form == "ask":
        return sols.limit(1).agg(
            (F.count(F.lit(1)) > F.lit(0)).alias("ask"))

    if q.form == "construct":
        # solutions are distinct, so rows never share a minted bnode
        sols = _mint_template_bnodes(sols.distinct(), q.template, "_:tb")
        out = instantiate_template(sols, q.template) \
            .dropDuplicates(QUAD_KEY_COLS)
        if q.offset:
            out = out.offset(q.offset)
        if q.limit is not None:
            out = out.limit(q.limit)
        return out

    if q.form == "describe":
        consts = [t for t in q.describe_terms if not _is_var(t)]
        var_terms = [t[1:] for t in q.describe_terms if _is_var(t)]
        spark = quads.sparkSession
        parts = []
        if consts:
            parts.append(local_frame(spark, [(c,) for c in consts],
                                     "node string"))
        for v in var_terms:
            if v not in sols.columns:
                raise SparqlError(f"DESCRIBE variable ?{v} is not bound "
                                  f"in WHERE")
            parts.append(sols.select(F.col(v).alias("node")).distinct())
        nodes = parts[0]
        for p in parts[1:]:
            nodes = nodes.unionByName(p)
        return _describe(quads, nodes)

    # SELECT
    return _eval_select(sols, q)


def _eval_select(sols: DataFrame, q: Query) -> DataFrame:
    """Apply a parsed SELECT clause (projection, aggregation, solution
    modifiers) over an evaluated solution table — shared by the
    top-level SELECT form and nested sub-SELECTs."""
    bind: list[tuple[str, str]] = list(q.group_binds or [])
    aggregates: list[tuple] = []
    project: list[str] = []
    seps = set()
    if q.select_star:
        project = [c for c in sols.columns
                   if not c.startswith(TYPED_PREFIX)
                   and not c.startswith(TK_PREFIX)]
    else:
        for item in q.project:
            if item[0] == "var":
                project.append(item[1])
            elif item[0] == "expr":
                bind.append((item[1], item[2]))
                for col, csql in (item[3] if len(item) > 3 else []):
                    bind.append((csql, col))
                project.append(item[2])
            else:   # ("agg", fn, (arg, sep), alias) flattened below
                _, fn, arg_sep, alias = item
                arg, sep = arg_sep if isinstance(arg_sep, tuple) \
                    else (arg_sep, None)
                if sep is not None:
                    seps.add(sep)
                aggregates.append((fn, arg, alias))
                project.append(alias)
    having_sql: list[str] = []
    hidden = 0
    for h in (q.having or []):
        if h[0] == "expr":
            having_sql.append(h[1])
        else:
            _, agg, cmp_sql = h
            fn, arg, sep = agg[1], agg[2], agg[3]
            match = next((al for f2, a2, al in aggregates
                          if (f2, a2) == (fn, arg)), None)
            if match is None:
                match = f"__having_{hidden}"
                hidden += 1
                aggregates.append((fn, arg, match))
            having_sql.append(
                cmp_sql.replace(_HAVING_PLACEHOLDER, match))
    if len(seps) > 1:
        raise SparqlError("one GROUP_CONCAT separator per query (v1)")
    if aggregates and not q.group_by and any(
            i[0] == "var" for i in (q.project or [])):
        raise SparqlError("projected variables require GROUP BY when "
                          "aggregates are present")
    out = select_solutions(
        sols, bind=bind or None,
        group_by=q.group_by,
        aggregates=aggregates or None,
        having=having_sql or None,
        project=project or None,
        distinct=q.distinct,
        order_by=q.order_by,
        offset=q.offset, limit=q.limit,
        group_concat_sep=next(iter(seps)) if seps else " ",
        keep_companions=q.keep_types)
    drop = [c for c in out.columns if c.startswith("__having_")]
    return out.drop(*drop) if drop else out
