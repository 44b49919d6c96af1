"""File-based JSON-LD source: ``.jsonld`` documents → quad table.

The rdflib plugin entry point parsed whole documents from files/URLs
(``JsonLDParser.parse(source, sink)`` — [checkout] setup.py:105-108,
docs/jsonld-parser.rst:13-14 "Identify a source… pass the source to the
parser"; [v0.5.0] parser.py ~L60-100, SURVEY.md §2.A1/A5). This is the
Spark face of that entry point for document FILES (the transcript-table
face lives in operators/expand.py):

- one JSON-LD document per line (``.jsonldl`` — the JSON-Lines layout a
  100 TB corpus actually uses: splittable, parallel) via ``spark.read.text``;
- or one document per FILE via ``wholetext`` for classic ``.jsonld``
  (non-splittable — each file is one row, parallelism = file count).

Base IRI per document defaults to its source file URI, matching the
reference's "document URL becomes @base" behavior ([v0.5.0] parser.py
source_to_json + base capture, SURVEY.md §3.1 step 2).
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from rdflib_jsonld_spark.jsonld.tordf import to_rdf
from rdflib_jsonld_spark.operators.expand import (QUAD_COLS, QUAD_SCHEMA,
                                                 quad_to_cells)
from rdflib_jsonld_spark.sources.registry import REGISTRY


def _rows(value: str, key: str, base: str, registry) -> list[tuple]:
    """One document's text → quad rows, bnodes salted with ``key``."""
    quads = to_rdf(json.loads(value), base=base, registry=registry,
                   bnode_prefix=f"{key}#")
    return [quad_to_cells(q) + (key, 0) for q in quads]


def read_jsonld_lines(spark: SparkSession, path: str,
                      base: str | None = None,
                      registry: dict | None = None) -> DataFrame:
    """JSON-Lines JSON-LD (one document per line) → quad table.

    Splittable and narrow: text splits stream through one Arrow-batched
    pass; bnode labels are salted with (file, split-local row id), so
    re-running any split of a FIXED file layout reproduces identical rows
    (resume-safe). Across different layouts labels differ but the graph is
    unchanged up to bnode relabeling — exactly the freedom RDF grants
    (SURVEY.md §4.3.1).
    """
    reg = registry if registry is not None else REGISTRY
    lines = (spark.read.text(path)
             .select(F.input_file_name().alias("src"),
                     F.monotonically_increasing_id().alias("line_id"),
                     "value"))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for src, line_id, value in zip(pdf["src"], pdf["line_id"],
                                           pdf["value"]):
                if not value.strip():
                    continue
                try:
                    out.extend(_rows(value, f"{src}/{line_id}",
                                     base or src, reg))
                except (ValueError, RecursionError):
                    continue  # malformed/hostile doc ≠ dead task
            if out:
                yield pd.DataFrame(out, columns=QUAD_COLS)

    return lines.mapInPandas(parse, schema=QUAD_SCHEMA)


def read_jsonld_files(spark: SparkSession, path: str,
                      base: str | None = None,
                      registry: dict | None = None) -> DataFrame:
    """Whole-file ``.jsonld`` documents → quad table (one row per file;
    the classic rdflib `parse(source=...)` shape)."""
    reg = registry if registry is not None else REGISTRY
    files = (spark.read.format("text").option("wholetext", "true").load(path)
             .select(F.input_file_name().alias("src"), "value"))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for src, value in zip(pdf["src"], pdf["value"]):
                try:
                    out.extend(_rows(value, src, base or src, reg))
                except (ValueError, RecursionError):
                    continue  # malformed/hostile doc ≠ dead task
            if out:
                yield pd.DataFrame(out, columns=QUAD_COLS)

    return files.mapInPandas(parse, schema=QUAD_SCHEMA)
