"""SPARQL 1.1 Update over quad DataFrames — functional, Spark-first.

``update(quads, text)`` parses a ``;``-separated sequence of update
operations and returns a NEW quad DataFrame (the next snapshot of the
store). Nothing mutates the input: during a request the store is
``base ⊖ D ⊕ I`` — the input frame, read lazily, minus the deleted
quad identities D plus the inserted rows I, both held on the driver.
A DATA operation edits D and I and starts no Spark job; a WHERE runs
once over the current view and its solutions come to the driver
through one bounded collect (``plans.driver.collect_bounded``). The
returned frame is the input filtered by D plus I as a
``LocalRelation``, so at warehouse scale it is simply what gets
written back as the next table version. A delta over
``plans.driver.DRIVER_ROWS`` rows is folded into the store with one
checkpoint of set algebra instead: a deletion is a null-safe anti-join
on the quad identity key, an insertion a union with the rows the store
lacks (see :func:`update`).

Supported operations (SPARQL 1.1 Update §3.1, ``[spec]``
https://www.w3.org/TR/sparql11-update/):

- ``INSERT DATA { quads }`` / ``DELETE DATA { quads }`` — ground quads,
  with ``GRAPH <iri> { ... }`` blocks; typed/lang literals keep their
  datatype/language. Blank nodes in DATA blocks are rejected (v1:
  deterministic output is a repo invariant; fresh-bnode minting would
  need a run id — documented narrowing).
- ``DELETE WHERE { pattern }`` — the pattern is both template and WHERE.
- Graph management (§3.2): ``CLEAR``/``DROP`` ``(GRAPH <g> | DEFAULT |
  NAMED | ALL)`` (identical here — the quad model has no empty-graph
  bookkeeping, so DROP ≡ CLEAR, documented), ``CREATE GRAPH <g>``
  (no-op: graphs exist implicitly), ``ADD``/``COPY``/``MOVE``
  ``(GRAPH <g>|DEFAULT) TO (GRAPH <g>|DEFAULT)``, and
  ``LOAD <file-iri> [INTO GRAPH <g>]`` via the repo's distributed
  N-Quads source (``file:`` IRIs or plain paths; INTO GRAPH overrides
  every loaded label). ``SILENT`` parses and is ignored — no failure
  modes exist for absent graphs.
- ``[WITH <g>] [DELETE { t }] [INSERT { t }] [USING [NAMED] <g>]*
  WHERE { pattern }`` — the full modify form. Per spec, both templates
  are instantiated from the SAME solution set evaluated against the
  pre-operation store; the result is ``(G ∖ deletes) ∪ inserts``.
  ``WITH`` scopes the WHERE and any template quad outside an explicit
  ``GRAPH`` block; ``USING``/``USING NAMED`` re-scope the WHERE
  dataset (default := union of USING graphs, named := the USING NAMED
  set) and override WITH for the WHERE only.

Quad identity is the 7-column key (g s p o_kind o_value o_datatype
o_lang) — lineage columns (conv_id, turn_idx) ride along unchanged on
surviving rows and are NULL on inserted rows. All joins are null-safe
equi-joins (``eqNullSafe`` — g/datatype/lang are nullable), which Spark
still plans as hash joins, so deletes/inserts scale like any other
equi-join on the quad table.

The reference checkout has no update engine (tombstone; rdflib itself
owns SPARQL Update) — this is pipeline-extension breadth on the
engine's own quad model, same as the query front-end.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame, functions as F, types as T

from ..jsonld.keys import RDF_LANGSTRING, XSD_STRING
from ..jsonld.tordf import IRI, LIT, QT
from ..plans import driver
from ..plans.driver import collect_bounded, local_frame
from .bgp import _is_var, instantiate_template, leaves, map_leaves
from .expand import QUAD_KEY_COLS, quad_to_cells
from .rounds import release, released_on_exit
from .sparql import (Group, SparqlError, XSD, _canon_number, _eval_group,
                     _mint_template_bnodes, _Parser, _template_scoped)


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

# Operations:
#   ("insert_data", rows) / ("delete_data", rows)
#       rows: [(g, s, p, o_kind, o_value, o_datatype, o_lang)]
#   ("modify", delete_tmpl, insert_tmpl, where: Group, with_graph,
#             using: (default_iris, named_iris) | None)
#       tmpl: [(graph_term | None, [(s, p, o), ...])]


class _UpdateParser(_Parser):
    def __init__(self, text: str):
        super().__init__(text)
        self._data_mode = False

    def parse_update(self) -> list[tuple]:
        ops = []
        while True:
            self.parse_prologue()
            ops.append(self._parse_op())
            if self._is_op(";"):
                self.take()
                if self.pos == len(self.toks):   # trailing ';'
                    break
                continue
            break
        if self.pos != len(self.toks):
            t = self.peek()
            raise SparqlError(f"trailing tokens starting at {t.text!r} "
                              f"(char {t.pos})")
        if not ops:
            raise SparqlError("empty update request")
        return ops

    def _parse_op(self) -> tuple:
        if self.at_kw("CLEAR", "DROP"):
            self.take()
            self._skip_silent()
            return ("clear", self._parse_graph_selector())
        if self.at_kw("CREATE"):
            self.take()
            self._skip_silent()
            self.expect_kw("GRAPH")
            self._take_iri("CREATE GRAPH")
            return ("create",)
        if self.at_kw("ADD", "COPY", "MOVE"):
            op = self.take().text.upper().lower()
            self._skip_silent()
            src = self._parse_graph_or_default()
            self.expect_kw("TO")
            dst = self._parse_graph_or_default()
            return (op, src, dst)
        if self.at_kw("LOAD"):
            self.take()
            self._skip_silent()
            path = self._take_iri("LOAD")
            into = None
            if self.at_kw("INTO"):
                self.take()
                self.expect_kw("GRAPH")
                into = self._take_iri("INTO GRAPH")
            return ("load", path, into)
        with_g = None
        if self.at_kw("WITH"):
            self.take()
            t = self.take()
            if t.kind == "IRIREF":
                with_g = self.resolve_iri(t.text)
            elif t.kind == "PNAME":
                with_g = self.expand_pname(t.text, t.pos)
            else:
                raise SparqlError("WITH needs an IRI")
        if self.at_kw("INSERT"):
            self.take()
            if self.at_kw("DATA"):
                if with_g is not None:
                    raise SparqlError("WITH does not apply to INSERT DATA")
                self.take()
                return ("insert_data", self._parse_ground_quads())
            ins = self._parse_quad_templates("INSERT")
            using = self._parse_using()
            self.expect_kw("WHERE")
            return ("modify", None, ins, self.parse_group(), with_g, using)
        if self.at_kw("DELETE"):
            self.take()
            if self.at_kw("DATA"):
                if with_g is not None:
                    raise SparqlError("WITH does not apply to DELETE DATA")
                self.take()
                return ("delete_data", self._parse_ground_quads())
            if self.at_kw("WHERE"):
                self.take()
                tmpl = self._parse_quad_templates("DELETE")
                return ("modify", tmpl, None, _template_as_group(tmpl),
                        with_g, None)
            dels = self._parse_quad_templates("DELETE")
            ins = None
            if self.at_kw("INSERT"):
                self.take()
                ins = self._parse_quad_templates("INSERT")
            using = self._parse_using()
            self.expect_kw("WHERE")
            return ("modify", dels, ins, self.parse_group(), with_g, using)
        t = self.peek()
        raise SparqlError(f"expected INSERT/DELETE/WITH, got "
                          f"{t.text if t else 'end of update'!r}")

    # --- graph-management helpers ------------------------------------------
    def _parse_using(self):
        """``USING <g>`` / ``USING NAMED <g>`` clauses ([spec] SPARQL
        1.1 Update §3.1.3): like FROM/FROM NAMED, they fully specify
        the WHERE dataset — default graph := union of USING graphs,
        named graphs := the USING NAMED set — and override WITH for
        the WHERE (sweep 11: previously rejected as unsupported)."""
        defaults: list[str] = []
        named: list[str] = []
        while self.at_kw("USING"):
            self.take()
            if self.at_kw("NAMED"):
                self.take()
                named.append(self._take_iri("USING NAMED"))
            else:
                defaults.append(self._take_iri("USING"))
        if not defaults and not named:
            return None
        return (tuple(defaults), tuple(named))

    def _skip_silent(self) -> None:
        if self.at_kw("SILENT"):
            self.take()

    def _take_iri(self, what: str) -> str:
        t = self.take()
        if t.kind == "IRIREF":
            return self.resolve_iri(t.text)
        if t.kind == "PNAME":
            return self.expand_pname(t.text, t.pos)
        raise SparqlError(f"{what} needs an IRI, got {t.text!r}")

    def _parse_graph_selector(self) -> tuple:
        if self.at_kw("GRAPH"):
            self.take()
            return ("graph", self._take_iri("GRAPH"))
        if self.at_kw("DEFAULT"):
            self.take()
            return ("default",)
        if self.at_kw("NAMED"):
            self.take()
            return ("named",)
        if self.at_kw("ALL"):
            self.take()
            return ("all",)
        t = self.peek()
        raise SparqlError(f"expected GRAPH <iri>/DEFAULT/NAMED/ALL, got "
                          f"{t.text if t else 'end of update'!r}")

    def _parse_graph_or_default(self) -> str | None:
        if self.at_kw("DEFAULT"):
            self.take()
            return None
        if self.at_kw("GRAPH"):
            self.take()
        return self._take_iri("graph name")

    # --- quad templates (pattern position) ---------------------------------
    def _parse_quad_templates(self, op: str) -> list[tuple]:
        self.expect_op("{")
        groups: list[tuple] = []
        while not self._is_op("}"):
            if self._is_op("."):
                self.take()
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
                self.expect_op("{")
                groups.append((term, self._template_triples(op)))
                self.expect_op("}")
            else:
                trips = self._template_triples(op)
                if not trips:
                    t = self.peek()
                    raise SparqlError(
                        f"unexpected {t.text!r} in {op} template"
                        if t else f"unterminated {op} template")
                groups.append((None, trips))
        self.expect_op("}")
        return groups

    def _template_triples(self, op: str) -> list[tuple]:
        out: list[tuple] = []
        for s, p, o in self.parse_triples():
            if not isinstance(p, str):
                raise SparqlError(f"property paths not allowed in {op} "
                                  f"template")
            if any(_is_var(x) and x.startswith("?__bn_")
                   for x in leaves(("qt", s, p, o), only="p")):
                raise SparqlError(f"blank node cannot be a predicate "
                                  f"in {op} template")
            if op == "INSERT":
                # [spec] SPARQL 1.1 Update §3.1.3: INSERT-template
                # bnodes are instantiated per solution
                out.append(_template_scoped((s, p, o)))
                continue
            if any(_is_var(x) and x.startswith("?__bn_")
                   for x in leaves(("qt", s, p, o))):
                # [spec] Update §3.1.3.2: bnodes are DISALLOWED in
                # DELETE templates and DATA blocks
                raise SparqlError(f"blank nodes are not allowed in {op} "
                                  f"templates")
            out.append((s, p, o))
        return out

    # --- ground quad data ---------------------------------------------------
    def _parse_ground_quads(self) -> list[tuple]:
        """DATA-block triples → rows ``(g, s, p, o_kind, o_value,
        o_datatype, o_lang)``, spelled by the quad-table term codec
        (quoted triples included)."""
        self._data_mode = True
        try:
            groups = self._parse_quad_templates("DATA")
        finally:
            self._data_mode = False
        rows: list[tuple] = []
        for term, trips in groups:
            if _is_var(term):
                raise SparqlError("variables not allowed in DATA blocks")
            g = None if term is None else (IRI, term)
            for s, p, o in trips:
                quoted = map_leaves(("qt", s, p, o), _data_term, _data_triple)
                g_c, s_c, _, *rest = quad_to_cells((g, *quoted[1]))
                rows.append((g_c, s_c, *rest))
        return rows

    def term(self, t):
        """In DATA mode, literals keep their datatype/lang as a
        ``("lit", value, datatype, lang)`` tuple instead of collapsing
        to the pattern-position lexical form."""
        if self._data_mode:
            if t.kind == "STRING":
                # engine identity convention (jsonld/tordf.py): plain
                # strings carry explicit xsd:string, tagged ones
                # rdf:langString — DATA quads must match to delete
                dt = self._expand_datatype(t.datatype) if t.datatype \
                    else (RDF_LANGSTRING if t.lang else XSD_STRING)
                return ("lit", t.text, dt, t.lang)
            if t.kind == "NUMBER":
                lex = _canon_number(t.text)
                if re.fullmatch(r"[+-]?\d+", t.text):
                    dt = XSD + "integer"
                elif "e" in t.text.lower():
                    dt = XSD + "double"
                else:
                    dt = XSD + "decimal"
                return ("lit", lex, dt, None)
            if t.kind == "NAME" and t.text in ("true", "false"):
                return ("lit", t.text, XSD + "boolean", None)
            if t.kind == "BNODE":
                raise SparqlError("blank nodes in DATA blocks are "
                                  "unsupported (v1: deterministic output)")
        return super().term(t)



def _data_term(x) -> tuple:
    """A DATA-block leaf → its pure-core term (literals already are
    one: ``("lit", value, datatype, lang)``)."""
    if isinstance(x, tuple):
        return x
    if _is_var(x):
        raise SparqlError("variables not allowed in DATA blocks")
    return (IRI, x)


def _data_triple(s: tuple, p: tuple, o: tuple) -> tuple:
    """A ground DATA triple (quoted or asserted) → a pure-core quoted
    triple term; only IRIs and quoted triples may be subjects."""
    if s[0] == LIT or p[0] == LIT:
        raise SparqlError("literal subject or predicate is not valid RDF")
    return (QT, (s, p, o))


def _template_as_group(tmpl: list[tuple]) -> Group:
    """DELETE WHERE shorthand: the quad pattern is its own WHERE."""
    g = Group()
    for term, trips in tmpl:
        if term is None:
            g.elements.append(("bgp", trips))
        else:
            inner = Group()
            inner.elements.append(("bgp", trips))
            g.elements.append(("graph", term, inner))
    return g


def parse_update(text: str) -> list[tuple]:
    """Parse SPARQL Update text to the operation list (for tests)."""
    return _UpdateParser(text).parse_update()


# ---------------------------------------------------------------------------
# evaluation
# ---------------------------------------------------------------------------

def _conform(df: DataFrame, like: DataFrame) -> DataFrame:
    """Give ``df`` exactly ``like``'s columns: missing ones NULL-filled
    with the target dtype (lineage columns on inserted quads)."""
    for f in like.schema.fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df.select(*[f.name for f in like.schema.fields])


#: quad identity — RDF 1.1 TERM identity, not storage spelling (sweep
#: 39): a plain literal ≡ explicit ``xsd:string``, a language tag
#: normalizes case and implies ``rdf:langString``. The text front-end's
#: DATA parser spells plain literals with explicit xsd:string while the
#: store convention is NULL — the raw key silently missed those
#: deletes. Per key column, the rule as SQL over a column and as Python
#: over a driver cell; the other key columns compare as stored.
_KEY_RULES = {
    "o_datatype": (
        lambda e: f"nullif(nullif({e}, '{XSD_STRING}'), '{RDF_LANGSTRING}')",
        lambda v: None if v in (XSD_STRING, RDF_LANGSTRING) else v),
    "o_lang": (lambda e: f"lower({e})",
               lambda v: v.lower() if v else v),
}


def _key_sql(c: str) -> str:
    """SQL of the quad-identity expression for key column ``c`` (or a
    renamed ``__u_<c>``). SQL text, because each Column built through
    the Py4J gateway is a round trip."""
    rule = _KEY_RULES.get(c.removeprefix("__u_"))
    return rule[0](f"`{c}`") if rule else f"`{c}`"


def _data_key(row: tuple) -> tuple:
    """:func:`_key_sql` over one driver row ``(g, s, p, o_kind,
    o_value, o_datatype, o_lang)``."""
    return tuple(_KEY_RULES[c][1](v) if c in _KEY_RULES else v
                 for c, v in zip(QUAD_KEY_COLS, row))


def _key_join(base: DataFrame, other: DataFrame, how: str) -> DataFrame:
    """``base`` joined to ``other`` on the quad identity key — a
    null-safe equi-join (still a hash join), right side renamed so the
    join never self-references."""
    d = other.select(*[F.col(c).alias(f"__u_{c}") for c in QUAD_KEY_COLS])
    cond = reduce(lambda a, b: a & b,
                  [F.expr(f"{_key_sql(c)} <=> {_key_sql(f'__u_{c}')}")
                   for c in QUAD_KEY_COLS])
    return base.join(d, cond, how)


def _anti_on_key(base: DataFrame, other: DataFrame) -> DataFrame:
    """base ∖ other on the quad identity key. ``other`` is the join's
    build side and is not deduplicated: an anti-join does not depend
    on its multiplicity. Keep it small: an insertion anti-joins its
    rows against the few store rows that share their key
    (:func:`_add_fresh`), never against the whole store."""
    return _key_join(base, other, "left_anti")


def _add_fresh(store: DataFrame, rows: DataFrame) -> DataFrame:
    """store ∪ the ``rows`` whose quad identity the store lacks. A
    left-semi join of the store against ``rows`` (the small build side)
    finds the store rows that share a key; only those meet the
    anti-join, so the store is never hashed."""
    rows = _conform(rows, store)
    return store.unionByName(
        _anti_on_key(rows, _key_join(store, rows, "left_semi")))


#: one key cell in a key string, length-prefixed (``len:value``, ``-``
#: for NULL) so distinct keys never collide — as SQL and as Python; both
#: count code points (Spark ``length``, Python ``len``)
_CELL_SQL = "coalesce(concat(length({e}), ':', {e}), '-')"


def _cell_text(v: str | None) -> str:
    return "-" if v is None else f"{len(v)}:{v}"


def _with_keys(df: DataFrame, keys, keep: bool = True) -> DataFrame:
    """The rows of ``df`` whose quad identity is one of the driver-held
    ``keys`` (:func:`_data_key` tuples), or with ``keep=False`` is not.
    Both sides spell a key as its cells joined by ``|``. The keys are
    string literals of one ``IN`` filter — a hash-set probe per row, no
    join and no build side — in one SQL text: a literal Column built
    through the Py4J gateway costs a round trip, milliseconds for each
    of thousands of keys."""
    spelled = ", ".join(_CELL_SQL.format(e=_key_sql(c))
                        for c in QUAD_KEY_COLS)
    texts = ", ".join("'" + "|".join(map(_cell_text, k))
                      .replace("\\", "\\\\").replace("'", "\\'") + "'"
                      for k in keys)
    return df.where(F.expr(f"concat_ws('|', {spelled}) "
                           f"{'' if keep else 'NOT '}IN ({texts})"))


def _distinct_on_key(df: DataFrame) -> DataFrame:
    """One row per quad identity (the :func:`_key_sql` key), so a LOAD
    never stores one term twice: a quad repeated in the file, or
    spelled twice (``"v"@EN`` / ``"v"@en``, plain / ``xsd:string``).
    The kept row is the least of its group, which makes the stored
    spelling deterministic."""
    keys = [F.expr(_key_sql(c)).alias(f"__k_{c}") for c in QUAD_KEY_COLS]
    return (df.groupBy(*keys)
            .agg(F.min(F.struct(*df.columns)).alias("__row"))
            .select("__row.*"))


def _instantiate_quads(sols: DataFrame, tmpl: list[tuple],
                       with_g: str | None) -> DataFrame:
    """Template quads per solution row (not deduplicated)."""
    sols = _mint_template_bnodes(
        sols, [t for _, trips in tmpl for t in trips], "_:ub")
    out = None
    for term, trips in tmpl:
        part = instantiate_template(sols, trips,
                                    graph=term if term is not None
                                    else with_g)
        out = part if out is None else out.unionByName(part)
    return out


_KEY_SCHEMA = ", ".join(f"{c} string" for c in QUAD_KEY_COLS)


class _Store:
    """The store during one request, ``base ⊖ D ⊕ I``. ``base`` is a
    lazy frame: the input, filtered by CLEAR / COPY / MOVE, or the last
    fold. ``dels`` (D) are identity keys (:func:`_data_key`) removed
    from it, ``ins`` (I) the inserted rows by key, both on the driver;
    ``unsure`` are the keys of ``ins`` that ``base`` may already hold.
    A delta larger than ``driver.DRIVER_ROWS`` is folded into ``base``
    with one checkpoint."""

    def __init__(self, quads: DataFrame):
        self.spark = quads.sparkSession
        self.base = quads
        self.fields = quads.columns
        # inserted rows carry NULL lineage, whatever the input's
        # nullability
        self.schema = T.StructType([T.StructField(f.name, f.dataType)
                                    for f in quads.schema.fields])
        self.dels: set[tuple] = set()
        self.ins: dict[tuple, tuple] = {}
        self.unsure: set[tuple] = set()
        self.ckpt: DataFrame | None = None

    def delete(self, keys) -> None:
        for k in keys:
            self.dels.add(k)
            self.ins.pop(k, None)
            self.unsure.discard(k)
        self._fit()

    def insert(self, rows) -> None:
        """Insert row dicts; a quad the store holds keeps its row."""
        for r in rows:
            k = _data_key(tuple(r[c] for c in QUAD_KEY_COLS))
            if k not in self.ins:
                self.ins[k] = tuple(r.get(f) for f in self.fields)
                if k not in self.dels:
                    self.unsure.add(k)
        self._fit()

    def keep(self, cond, keep_g) -> None:
        """Keep the quads whose graph passes: ``cond`` on ``base``,
        ``keep_g(g)`` on the inserted rows."""
        self.base = self.base.where(cond)
        self.ins = {k: r for k, r in self.ins.items() if keep_g(k[0])}
        self.unsure &= self.ins.keys()

    def view(self) -> DataFrame:
        """The store as a frame, lazy over ``base``. Settles ``unsure``
        first with one Spark job: the ``base`` rows whose key is an
        unsure insert come back, and those inserts are dropped."""
        if self.unsure:
            held = _with_keys(self.base, self.unsure).select(
                *(F.expr(_key_sql(c)) for c in QUAD_KEY_COLS)).collect()
            for k in held:
                self.ins.pop(tuple(k), None)
            self.unsure = set()
        out = self.base
        if self.dels:
            out = _with_keys(out, self.dels, keep=False)
        if self.ins:
            out = out.unionByName(
                local_frame(self.spark, self.ins.values(), self.schema))
        return out

    def fold(self, dels: DataFrame | None = None,
             ins: DataFrame | None = None) -> None:
        """Checkpoint ``base ⊖ D ⊕ I``, then ``dels`` removed and the
        fresh ``ins`` added, as the new ``base``; the previous fold's
        checkpoint is released."""
        cur = self.base
        if self.dels:
            cur = _anti_on_key(cur, local_frame(self.spark, self.dels,
                                                _KEY_SCHEMA))
        if self.ins:
            cur = _add_fresh(cur, local_frame(self.spark, self.ins.values(),
                                              self.schema))
        if dels is not None:
            cur = _anti_on_key(cur, dels)
        if ins is not None:
            cur = _add_fresh(cur, ins)
        out = cur.localCheckpoint(eager=True)
        if self.ckpt is not None:
            release(self.ckpt)
        self.base = self.ckpt = out
        self.dels, self.ins, self.unsure = set(), {}, set()

    def _fit(self) -> None:
        if max(len(self.dels), len(self.ins)) > driver.DRIVER_ROWS:
            self.fold()


def update(quads: DataFrame, text: str, *,
           stats: dict | None = None) -> DataFrame:
    """Apply a SPARQL Update request to a quad table, returning the new
    quad table (input columns preserved; inserted rows carry NULL in
    non-quad columns). Operations in a ``;``-sequence apply in order,
    each over the previous result. The result is a set on the quad
    identity key: INSERT DATA keeps the first spelling of a quad
    repeated in its block (``"v"@EN`` and ``"v"@en`` are one term),
    LOAD the least, and neither stores a quad the store already has.

    The request keeps the store as ``base ⊖ D ⊕ I`` (:class:`_Store`):
    DATA operations only edit the driver-held D and I and start no
    Spark job; a WHERE is evaluated once over the view and its
    solutions come back through one ``driver.collect_bounded``, so both
    templates are instantiated over those rows as a ``LocalRelation``.
    Set semantics cost one probe of the store (an ``IN`` filter over
    the inserted keys it may already hold) before a WHERE or the
    result reads newly inserted rows. The result is ``base`` minus D
    (an ``IN`` filter) plus I (a ``LocalRelation``): lazy over the
    input and holding no cached blocks, so persist an expensive input
    before calling.
    A delta over ``driver.DRIVER_ROWS`` rows (solutions, one
    template's quads, loaded or moved quads, or D / I themselves)
    folds the store into one
    ``localCheckpoint``, which the returned frame then reads; a later
    fold releases the earlier one."""
    spark = quads.sparkSession
    store = _Store(quads)
    for op in _UpdateParser(text).parse_update():
        kind = op[0]
        if kind == "create":
            continue                      # graphs exist implicitly
        if kind == "clear":
            sel = op[1]
            if sel[0] == "default":
                store.keep(F.col("g").isNotNull(), lambda g: g is not None)
            elif sel[0] == "named":
                store.keep(F.col("g").isNull(), lambda g: g is None)
            elif sel[0] == "all":
                store.keep(F.lit(False), lambda g: False)
            else:
                store.keep(~F.col("g").eqNullSafe(
                    F.lit(sel[1]).cast("string")),
                    lambda g, name=sel[1]: g != name)
        elif kind in ("add", "copy", "move"):
            _, src, dst = op
            if src == dst:
                continue                  # spec: same graph is a no-op
            src_lit = F.lit(src).cast("string")
            dst_lit = F.lit(dst).cast("string")
            moved = store.view().where(F.col("g").eqNullSafe(src_lit)) \
                .withColumn("g", dst_lit)
            rows = collect_bounded(moved)
            if kind in ("copy", "move"):  # COPY/MOVE overwrite the target
                store.keep(~F.col("g").eqNullSafe(dst_lit),
                           lambda g: g != dst)
            if kind == "move":
                store.keep(~F.col("g").eqNullSafe(src_lit),
                           lambda g: g != src)
            if rows is None:
                store.fold(ins=moved)
            else:
                store.insert(r.asDict() for r in rows)
        elif kind == "load":
            path = op[1]
            for prefix in ("file://", "file:"):
                if path.startswith(prefix):
                    path = path[len(prefix):]
                    break
            low = path.rstrip("/").lower()
            if low.endswith((".ttl", ".trig")):
                from ..sources.turtle_io import read_turtle
                loaded = read_turtle(spark, path).drop("src")
            elif low.endswith((".jsonld", ".json")):
                from ..sources.jsonld_files import read_jsonld_files
                loaded = read_jsonld_files(spark, path) \
                    .drop("conv_id", "turn_idx")
            elif low.endswith((".jsonldl", ".jsonl")):
                from ..sources.jsonld_files import read_jsonld_lines
                loaded = read_jsonld_lines(spark, path) \
                    .drop("conv_id", "turn_idx")
            else:
                from ..sources.nquads_io import read_nquads
                loaded = read_nquads(spark, path)
            if op[2] is not None:
                loaded = loaded.withColumn("g", F.lit(op[2]))
            # cached: over the bound the fold reads the parsed file
            # again — parsing it twice cost ~1 s at 20,000 quads
            loaded = _distinct_on_key(_conform(loaded, quads)).persist()
            rows = collect_bounded(loaded)
            if rows is None:
                store.fold(ins=loaded)
            else:
                store.insert(r.asDict() for r in rows)
            loaded.unpersist()
        elif kind in ("insert_data", "delete_data"):
            # one row per quad identity, first spelling kept: a quad
            # repeated in the block is inserted once
            uniq: dict[tuple, tuple] = {}
            for q in op[1]:
                uniq.setdefault(_data_key(q), q)
            if kind == "insert_data":
                store.insert({**dict(zip(QUAD_KEY_COLS, q)),
                              "s_is_bnode": q[1].startswith("_:")}
                             for q in uniq.values())
            else:
                store.delete(uniq)
        else:
            _, dels, ins, where, with_g, using = op
            view, scope = store.view(), with_g
            if using is not None:
                # [spec] Update §3.1.3: USING/USING NAMED specify the
                # WHERE dataset (default := union of USING graphs moved
                # to the default graph, named := USING NAMED set) and
                # override WITH for the WHERE; templates still target
                # the WITH graph over the full store
                defaults, named = using
                parts = []
                if defaults:
                    parts.append(view.where(
                        F.col("g").isin(list(defaults)))
                        .withColumn("g", F.lit(None).cast("string")))
                if named:
                    parts.append(view.where(F.col("g").isin(list(named))))
                view = parts[0]
                for p in parts[1:]:
                    view = view.unionByName(p)
                scope = None
            # path closures the WHERE checkpointed are freed once its
            # solutions are on the driver or folded into the store
            with released_on_exit():
                sols = _eval_group(view, where, graph=scope,
                                   with_types=True, stats=stats)
                rows = collect_bounded(sols)
                n_branches = sum(len(t[1]) for t in (dels or [])) \
                    + sum(len(t[1]) for t in (ins or []))
                if rows is not None:
                    sols = local_frame(spark, rows, sols.schema)
                elif n_branches > 1:
                    # each template triple scans the solution set once
                    # — don't re-run the WHERE joins per branch (r02)
                    sols = sols.persist()
                d_q = None if dels is None \
                    else _instantiate_quads(sols, dels, with_g)
                i_q = None if ins is None \
                    else _instantiate_quads(sols, ins, with_g)
                if rows is not None:
                    # each solution gives one quad per template triple:
                    # the quads are bounded on their own
                    d_rows = [] if d_q is None else collect_bounded(
                        d_q.select(*QUAD_KEY_COLS))
                    i_rows = [] if i_q is None else collect_bounded(i_q)
                    if d_rows is not None and i_rows is not None:
                        store.delete(_data_key(tuple(r)) for r in d_rows)
                        # sorted: the kept spelling of a repeated key
                        # does not depend on row order
                        store.insert(r.asDict()
                                     for r in sorted(i_rows, key=repr))
                        continue
                # over the bound: fold this op's delta into the store
                store.fold(dels=d_q, ins=None if i_q is None
                           else i_q.dropDuplicates(QUAD_KEY_COLS))
                if rows is None and n_branches > 1:
                    sols.unpersist()
    return store.view()
