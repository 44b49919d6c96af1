"""SPARQL 1.1 Update over quad DataFrames — functional, Spark-first.

``update(quads, text)`` parses a ``;``-separated sequence of update
operations and returns a NEW quad DataFrame (the next snapshot of the
store). Nothing mutates: each operation is pure set algebra over the
input — a deletion is a null-safe anti-join on the quad identity key,
an insertion is an anti-joined union (INSERT DATA and LOAD rows made
distinct on that key first) — each op a Catalyst plan that
AQE sizes at runtime, its result checkpointed before the next op reads
it (see :func:`update`), and at warehouse scale the result is simply
what gets written back as the next table version.

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

from pyspark.sql import DataFrame, functions as F

from ..jsonld.keys import RDF_LANGSTRING, XSD_STRING
from ..jsonld.tordf import IRI, LIT, QT
from ..plans.driver import local_frame
from .bgp import _is_var, instantiate_template, leaves, map_leaves
from .expand import CORE_SCHEMA, QUAD_KEY_COLS, quad_to_cells
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
            if p.startswith("?__bn_"):
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


def _key_col(df: DataFrame, c: str):
    """Quad-identity expression for one key column — RDF 1.1 TERM
    identity, not storage spelling (sweep 39): a plain literal ≡
    explicit ``xsd:string``, a language tag normalizes case and
    implies ``rdf:langString``. The text front-end's DATA parser
    spells plain literals with explicit xsd:string while the store
    convention is NULL — the raw key silently missed those deletes."""
    col = df[c]
    if c.endswith("o_datatype"):
        return F.nullif(F.nullif(col, F.lit(XSD_STRING)),
                        F.lit(RDF_LANGSTRING))
    if c.endswith("o_lang"):
        return F.lower(col)
    return col


def _anti_on_key(base: DataFrame, other: DataFrame) -> DataFrame:
    """base ∖ other on the quad identity key — null-safe equi-join
    (still a hash join), right side renamed so the anti never
    self-references. The right side is not deduplicated: an anti-join
    does not depend on its multiplicity, and for an insertion it is
    the whole store."""
    d = other.select(*[F.col(c).alias(f"__u_{c}") for c in QUAD_KEY_COLS])
    cond = reduce(lambda a, b: a & b,
                  [_key_col(base, c).eqNullSafe(
                      _key_col(d, f"__u_{c}")) for c in QUAD_KEY_COLS])
    return base.join(d, cond, "left_anti")


def _data_key(row: tuple) -> tuple:
    """:func:`_key_col` over one parsed DATA row ``(g, s, p, o_kind,
    o_value, o_datatype, o_lang)``."""
    *head, dt, lang = row
    if dt in (XSD_STRING, RDF_LANGSTRING):
        dt = None
    return (*head, dt, lang.lower() if lang else lang)


def _distinct_on_key(df: DataFrame) -> DataFrame:
    """One row per quad identity (the :func:`_key_col` key), so a LOAD
    never stores one term twice: a quad repeated in the file, or
    spelled twice (``"v"@EN`` / ``"v"@en``, plain / ``xsd:string``).
    The kept row is the least of its group, which makes the stored
    spelling deterministic."""
    keys = [_key_col(df, c).alias(f"__k_{c}") for c in QUAD_KEY_COLS]
    return (df.groupBy(*keys)
            .agg(F.min(F.struct(*df.columns)).alias("__row"))
            .select("__row.*"))


def _instantiate_quads(sols: DataFrame, tmpl: list[tuple],
                       with_g: str | None) -> DataFrame:
    sols = _mint_template_bnodes(
        sols, [t for _, trips in tmpl for t in trips], "_:ub")
    out = None
    for term, trips in tmpl:
        part = instantiate_template(sols, trips,
                                    graph=term if term is not None
                                    else with_g)
        out = part if out is None else out.unionByName(part)
    return out.dropDuplicates(QUAD_KEY_COLS)


def update(quads: DataFrame, text: str, *,
           stats: dict | None = None) -> DataFrame:
    """Apply a SPARQL Update request to a quad table, returning the new
    quad table (input columns preserved; inserted rows carry NULL in
    non-quad columns). Operations in a ``;``-sequence apply in order,
    each over the previous result. The result is a set on the quad
    identity key: INSERT DATA keeps the first spelling of a quad
    repeated in its block (``"v"@EN`` and ``"v"@en`` are one term),
    LOAD the least, and neither stores a quad the store already has.

    Each mutating op's result store is eagerly ``localCheckpoint``-ed
    before the next op reads it, and ``rounds.release`` frees the
    previous op's checkpoint once its successor exists (``unpersist()``
    would not). Each mutating op references
    its input store 2-5 times (WHERE eval + delete anti-join + insert
    anti-join + union), so a lazy ;-sequence duplicates each op's
    subtree multiplicatively — measured 7.4s lazy vs 4.0s checkpointed
    for the 3-op bench rewrite at sf0.1 warm (r04 A/B, 3 reps), and the
    lazy plans exceeded Janino codegen limits in the update fuzzer. At
    cluster scale this trades one full-store materialization per op
    (spillable, executor-local) against O(ops²) redundant anti-join
    subtree evals; CLEAR and empty sequences stay lazy filters."""
    spark = quads.sparkSession
    cur = quads
    ckpts: list[DataFrame] = []

    def _materialize(df: DataFrame) -> DataFrame:
        out = df.localCheckpoint(eager=True)
        while ckpts:
            release(ckpts.pop())
        ckpts.append(out)
        return out

    for op in _UpdateParser(text).parse_update():
        kind = op[0]
        if kind == "create":
            continue                      # graphs exist implicitly
        if kind == "clear":
            sel = op[1]
            if sel[0] == "default":
                cur = cur.where(F.col("g").isNotNull())
            elif sel[0] == "named":
                cur = cur.where(F.col("g").isNull())
            elif sel[0] == "all":
                cur = cur.where(F.lit(False))
            else:
                cur = cur.where(
                    ~F.col("g").eqNullSafe(F.lit(sel[1]).cast("string")))
        elif kind in ("add", "copy", "move"):
            _, src, dst = op
            if src == dst:
                continue                  # spec: same graph is a no-op
            src_lit = F.lit(src).cast("string")
            dst_lit = F.lit(dst).cast("string")
            moved = cur.where(F.col("g").eqNullSafe(src_lit)) \
                .withColumn("g", dst_lit)
            base = cur
            if kind in ("copy", "move"):  # COPY/MOVE overwrite the target
                base = base.where(~F.col("g").eqNullSafe(dst_lit))
            if kind == "move":
                base = base.where(~F.col("g").eqNullSafe(src_lit))
            cur = _materialize(base.unionByName(
                moved if kind != "add" else _anti_on_key(moved, base)))
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
            fresh = _anti_on_key(_distinct_on_key(_conform(loaded, cur)),
                                 cur)
            cur = _materialize(cur.unionByName(fresh))
        elif kind in ("insert_data", "delete_data"):
            # one row per quad identity, first spelling kept: a quad
            # repeated in the block is inserted once
            uniq: dict[tuple, tuple] = {}
            for q in op[1]:
                uniq.setdefault(_data_key(q), q)
            rows = local_frame(
                spark, [(g, s, s.startswith("_:"), p, k, v, dt, lang)
                        for g, s, p, k, v, dt, lang in uniq.values()],
                CORE_SCHEMA)
            if kind == "insert_data":
                fresh = _anti_on_key(_conform(rows, cur), cur)
                cur = _materialize(cur.unionByName(fresh))
            else:
                cur = _materialize(_anti_on_key(cur, rows))
        else:
            _, dels, ins, where, with_g, using = op
            view, scope = cur, with_g
            if using is not None:
                # [spec] Update §3.1.3: USING/USING NAMED specify the
                # WHERE dataset (default := union of USING graphs moved
                # to the default graph, named := USING NAMED set) and
                # override WITH for the WHERE; templates still target
                # the WITH graph over the full store
                defaults, named = using
                parts = []
                if defaults:
                    parts.append(cur.where(
                        F.col("g").isin(list(defaults)))
                        .withColumn("g", F.lit(None).cast("string")))
                if named:
                    parts.append(cur.where(F.col("g").isin(list(named))))
                view = parts[0]
                for p in parts[1:]:
                    view = view.unionByName(p)
                scope = None
            # path closures the WHERE checkpointed are freed once this
            # op's result is materialized (nothing lazy reads them then)
            with released_on_exit():
                sols = _eval_group(view, where, graph=scope,
                                   with_types=True, stats=stats)
                n_branches = sum(len(t[1]) for t in (dels or [])) \
                    + sum(len(t[1]) for t in (ins or []))
                if n_branches > 1:
                    # each template triple scans the solution set once
                    # — don't re-run the WHERE joins per branch (r02)
                    sols = sols.persist()
                base = cur
                if dels is not None:
                    cur = _anti_on_key(
                        cur, _instantiate_quads(sols, dels, with_g))
                if ins is not None:
                    fresh = _anti_on_key(_conform(
                        _instantiate_quads(sols, ins, with_g), base), cur)
                    cur = cur.unionByName(fresh)
                cur = _materialize(cur)
                if n_branches > 1:
                    sols.unpersist()
    return cur
