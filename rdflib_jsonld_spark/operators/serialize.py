"""Quad table → JSON-LD documents (the Spark face of from-rdf, SURVEY.md
§2.E1-E4 / §3.2).

Grouping unit = the original source document ``(conv_id, turn_idx)``: all
quads of one document land in one ``applyInPandas`` group, so subject
grouping (E1), predicate grouping (E2), rdf-list reassembly (E3) and named
-graph nesting run in the pure from-rdf core with complete information —
no cross-document state, embarrassingly parallel, and the shuffle key is
the same (conv_id, turn_idx) the table is already organized by.

Output is deterministic (G2): ``json.dumps(sort_keys=True)``.
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from rdflib_jsonld_spark.jsonld.fromrdf import from_rdf
from rdflib_jsonld_spark.operators.expand import QUAD_KEY_COLS, cells_to_quad

DOC_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("jsonld", T.StringType(), False),
    T.StructField("n_quads", T.IntegerType(), False),
])


def row_to_quad(r) -> tuple:
    """Quad-table row → term-tuple quad: :func:`expand.cells_to_quad`
    over the row's seven quad-identity cells."""
    return cells_to_quad(r.g, r.s, r.p, r.o_kind, r.o_value, r.o_datatype,
                         r.o_lang)


def serialize_documents(quads: DataFrame, context_data=None,
                        use_native_types: bool = False,
                        use_rdf_type: bool = False,
                        auto_compact: bool = False,
                        indent: int | None = None,
                        rdf_direction: str | None = None) -> DataFrame:
    """quads (with lineage cols) → one JSON-LD text per source document.

    ``indent`` pretty-prints like the reference serializer's kwarg
    (``[checkout] docs/jsonld-serializer.rst:27`` shows ``indent=4``);
    the default stays the compact sort_keys form (deterministic either
    way — json.dumps with sort_keys is stable for any indent).
    ``rdf_direction`` passes through to from_rdf (i18n-datatype /
    compound-literal deserialization)."""

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        conv_id, turn_idx = key
        tuples = list(map(cells_to_quad, *(pdf[c] for c in QUAD_KEY_COLS)))
        tree = from_rdf(tuples, context_data=context_data,
                        use_native_types=use_native_types,
                        use_rdf_type=use_rdf_type, auto_compact=auto_compact,
                        rdf_direction=rdf_direction)
        if isinstance(tree, list):
            tree = {"@graph": tree} if len(tree) != 1 else tree[0]
        text = json.dumps(tree, sort_keys=True, ensure_ascii=False,
                          indent=indent)
        return pd.DataFrame([{
            "conv_id": conv_id,
            "turn_idx": int(turn_idx),
            "jsonld": text,
            "n_quads": len(tuples),
        }])

    return (quads.groupBy("conv_id", "turn_idx")
            .applyInPandas(build, schema=DOC_SCHEMA))
