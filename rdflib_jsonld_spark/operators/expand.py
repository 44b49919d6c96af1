"""Transcript → quad-table expansion stage (the Spark face of to-rdf).

One expansion UDF, ``expand_with_metrics``: a fused ``mapInPandas`` pass
per input partition that regex-extracts fenced JSON-LD blocks from turn
text, parses, runs the pure to-rdf core (rdflib_jsonld_spark.jsonld.tordf
— SURVEY.md §2.D1-D11/C3-C6), and emits quad rows with (conv_id,
turn_idx) lineage columns plus parse-error sentinel rows;
``expand_transcripts`` is its filtered view. Fusing extraction and
expansion keeps the whole per-turn path NARROW (zero shuffles until
linking — SURVEY.md §3.4) and crosses the Arrow boundary once.

Scale notes:
- The resolved @context is constructed once per executor from the
  broadcast registry (SURVEY.md §1.2), not per row.
- Blank-node labels are ``{conv_id}/{turn_idx}/{block}#{n}`` — globally
  unique and deterministic, so re-running any partition reproduces
  identical rows (resume-safe; replaces rdflib's process-global BNode
  counter, SURVEY.md §4.3.1 / D11).
- Malformed JSON blocks are counted and dropped (B3 error path); counts
  surface via the `_kg_errors` column of `expand_with_metrics`.

Term codec: :func:`quad_to_cells` / :func:`cells_to_quad` are the one
pair that spells RDF terms as quad-table cells and reads them back;
every reader (JSON-LD, Turtle, N-Quads star path) and every writer that
goes through term tuples (Turtle sink, JSON-LD serializer) calls them.
"""

from __future__ import annotations

import json
import re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from rdflib_jsonld_spark.jsonld.context import Context
from rdflib_jsonld_spark.jsonld.keys import XSD_STRING
from rdflib_jsonld_spark.jsonld.nquads import parse_term
from rdflib_jsonld_spark.jsonld.tordf import BNODE, IRI, LIT, QT, to_rdf
from rdflib_jsonld_spark.operators.star import term_to_star
from rdflib_jsonld_spark.sources.registry import CONTEXT_V1_IRI, REGISTRY

QUAD_SCHEMA = T.StructType([
    T.StructField("g", T.StringType(), True),
    T.StructField("s", T.StringType(), False),
    T.StructField("s_is_bnode", T.BooleanType(), False),
    T.StructField("p", T.StringType(), False),
    T.StructField("o_kind", T.StringType(), False),
    T.StructField("o_value", T.StringType(), False),
    T.StructField("o_datatype", T.StringType(), True),
    T.StructField("o_lang", T.StringType(), True),
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
])

QUAD_COLS = [f.name for f in QUAD_SCHEMA.fields]
#: The quad identity (graph set semantics, G4) excludes lineage columns.
QUAD_KEY_COLS = ["g", "s", "p", "o_kind", "o_value", "o_datatype", "o_lang"]

#: The eight core cells of a quad, without lineage (what readers emit).
CORE_SCHEMA = T.StructType(QUAD_SCHEMA.fields[:8])

_O_KIND = {BNODE: "bnode", QT: "triple"}


def _cell(t: tuple) -> str:
    """One non-literal term → its cell spelling: IRIs raw, bnodes
    ``_:label``, quoted triples ``<< … >>`` (operators/star.py)."""
    if t[0] == BNODE:
        return "_:" + t[1]
    if t[0] == QT:
        return term_to_star(t)
    return t[1]


def quad_to_cells(q: tuple) -> tuple:
    """Term quad → the eight core cells ``(g, s, s_is_bnode, p, o_kind,
    o_value, o_datatype, o_lang)``. With :func:`cells_to_quad` this is
    the one place the quad table's term spelling is decided; callers
    append their own lineage columns."""
    g, s, p, o = q
    if o[0] == LIT:
        obj = ("literal", o[1], o[2], o[3])
    else:
        obj = (_O_KIND.get(o[0], "iri"), _cell(o), None, None)
    return (None if g is None else _cell(g), _cell(s), s[0] == BNODE,
            _cell(p)) + obj


def _term(v: str) -> tuple:
    if v.startswith("<<"):
        return parse_term(v, decode=False)[0]
    if v.startswith("_:"):
        return (BNODE, v[2:])
    return (IRI, v)


def cells_to_quad(g, s, p, o_kind, o_value, o_datatype, o_lang) -> tuple:
    """Inverse of :func:`quad_to_cells` (``s_is_bnode`` is implied by the
    ``_:`` spelling). A NULL literal datatype reads as xsd:string. Quoted
    spellings parse with the N-Quads term reader, so their bnode labels
    must avoid whitespace and ``< " >`` and not end in '.', and their
    language tags come back lowercased."""
    if o_kind == "literal":
        o = (LIT, o_value, o_datatype or XSD_STRING, o_lang)
    else:
        o = _term(o_value)
    return (_term(g) if isinstance(g, str) else None, _term(s), _term(p), o)


_FENCE_RE = re.compile(r"```ld\n(.*?)\n```", re.DOTALL)


def extract_blocks(text: str) -> list[str]:
    """Fenced JSON-LD blocks in a turn's text (A1 source stage)."""
    return _FENCE_RE.findall(text)


def parse_block(block: str, ctx: Context):
    """One block → (parsed doc, ``ctx``) when it names the v1 context
    (dropped from the doc: the broadcast-resolved fast path), else
    (doc, None). Raises what ``json.loads`` raises."""
    doc = json.loads(block)
    if isinstance(doc, dict) and doc.get("@context") == CONTEXT_V1_IRI:
        return {k: v for k, v in doc.items() if k != "@context"}, ctx
    return doc, None


def turn_quads(conv_id: str, turn_idx: int, text: str, ctx: Context,
               registry: dict | None = None) -> tuple[list[tuple], int]:
    """Pure per-turn to-rdf: (term quads of every block, n_parse_errors).
    Block ``k`` salts its blank nodes with ``{conv_id}/{turn_idx}/{k}#``,
    so nodes of different blocks never merge."""
    reg = registry if registry is not None else REGISTRY
    quads: list[tuple] = []
    errors = 0
    for k, block in enumerate(extract_blocks(text)):
        try:
            doc, local_ctx = parse_block(block, ctx)
        except (ValueError, RecursionError):
            # RecursionError: maliciously deep JSON must count as a parse
            # error, not kill the executor task (one bad doc ≠ dead job)
            errors += 1
            continue
        try:
            quads.extend(to_rdf(doc, ctx=local_ctx, registry=reg,
                                bnode_prefix=f"{conv_id}/{turn_idx}/{k}#"))
        except Exception:
            errors += 1
    return quads, errors


def quads_for_turn(conv_id: str, turn_idx: int, text: str,
                   ctx: Context,
                   registry: dict | None = None) -> tuple[list[tuple], int]:
    """Pure per-turn worker: returns (quad rows, n_parse_errors)."""
    quads, errors = turn_quads(conv_id, turn_idx, text, ctx, registry)
    lineage = (conv_id, turn_idx)
    return [quad_to_cells(q) + lineage for q in quads], errors


METRICS_SCHEMA = T.StructType(QUAD_SCHEMA.fields + [
    T.StructField("_kg_errors", T.IntegerType(), False),
])

ERROR_SUBJECT = "_:error"  #: s and p of the parse-error sentinel rows


def expand_with_metrics(transcripts: DataFrame,
                        registry: dict | None = None) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, …) → quads + ``_kg_errors``.

    Narrow (no shuffle): one Arrow-batched pass per input partition; only
    (conv_id, turn_idx, text) are read (parquet ReadSchema pruning).
    ``registry`` merges extra pre-fetched remote contexts over the
    built-in one (sources/registry.py load_registry_dir). Quad rows carry
    ``_kg_errors = 0``; a turn with parse failures adds one
    ``ERROR_SUBJECT`` sentinel row holding its count (SURVEY.md §4.3.3)."""
    pruned = transcripts.select("conv_id", "turn_idx", "text")
    reg = {**REGISTRY, **(registry or {})}

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = Context(registry=reg).load(CONTEXT_V1_IRI)
        for pdf in batches:
            out: list[tuple] = []
            for conv_id, turn_idx, text in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                rows, errs = quads_for_turn(conv_id, int(turn_idx), text,
                                            ctx, registry=reg)
                out.extend(r + (0,) for r in rows)
                if errs:
                    out.append((None, ERROR_SUBJECT, True, ERROR_SUBJECT,
                                "literal", "", None, None, conv_id,
                                int(turn_idx), errs))
            if out:
                yield pd.DataFrame(out, columns=QUAD_COLS + ["_kg_errors"])

    return pruned.mapInPandas(expand, schema=METRICS_SCHEMA)


def drop_error_rows(quads: DataFrame) -> DataFrame:
    """Sentinel rows and ``_kg_errors`` removed: the plain quad table."""
    return quads.where(F.col("s") != ERROR_SUBJECT).drop("_kg_errors")


def expand_transcripts(transcripts: DataFrame,
                       registry: dict | None = None) -> DataFrame:
    """transcripts → quads: :func:`expand_with_metrics`, filtered."""
    return drop_error_rows(expand_with_metrics(transcripts, registry))


def dedup_quads(quads: DataFrame) -> DataFrame:
    """Graph set semantics (G4): rdflib Graph.add is idempotent — the
    relational equivalent is dropDuplicates over the quad identity
    (lineage keeps the first witness)."""
    return quads.dropDuplicates(QUAD_KEY_COLS)
