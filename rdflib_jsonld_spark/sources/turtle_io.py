"""Distributed Turtle / TriG source + sink over the quad table.

The Spark face of :mod:`rdflib_jsonld_spark.jsonld.turtle` (the pure
core). Most public RDF ships as Turtle, and the reference's rdflib host
round-trips graphs through it ([checkout] README.md:55 serialize
``format='n3'``; SURVEY.md §2.A1/A3 — the plugin I/O surface), so the
engine needs both directions:

- **source**: whole-file reads (``wholetext``) → ``mapInPandas`` over the
  pure-core parser. Turtle is NOT line-splittable (``@prefix`` state is
  document-global), so parallelism = file count — which is exactly how a
  100 TB Turtle corpus is laid out in practice (many part files). Blank
  node labels are salted per file (D11 determinism): re-reading the same
  layout reproduces identical rows; labels across layouts differ only up
  to the bnode relabeling freedom RDF grants.
- **sink**: each partition serializes to ONE standalone Turtle/TriG
  document (its own ``@prefix`` header) inside a single Arrow pass, then
  ``df.write.text`` emits one part-file per partition. No shuffle, no
  driver collect; output scales with the partition count.

Line-format parity with the pure core is direct — the sink and the test
oracle call the SAME ``serialize``/``serialize_trig`` functions.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from rdflib_jsonld_spark.jsonld import turtle as ttl
from rdflib_jsonld_spark.operators.expand import (
    CORE_SCHEMA, QUAD_KEY_COLS, cells_to_quad, quad_to_cells)

TURTLE_READ_SCHEMA = T.StructType(
    CORE_SCHEMA.fields + [T.StructField("src", T.StringType(), False)])
_READ_COLS = TURTLE_READ_SCHEMA.fieldNames()

_TEXT_SCHEMA = T.StructType([T.StructField("value", T.StringType(), False)])


def read_turtle(spark: SparkSession, path: str,
                base: str | None = None) -> DataFrame:
    """Turtle/TriG files → quad table (one task per file).

    Malformed files surface as zero rows rather than dead tasks, matching
    the malformed-document posture of the JSON-LD sources
    (sources/jsonld_files.py); per-file error accounting can be layered
    with :func:`read_turtle_errors` when the corpus is untrusted.
    """
    files = (spark.read.format("text").option("wholetext", "true").load(path)
             .select(F.input_file_name().alias("src"), "value"))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for src, value in zip(pdf["src"], pdf["value"]):
                try:
                    quads = ttl.parse(value, base=base or src,
                                      bnode_prefix=f"{src}#")
                except (ttl.TurtleParseError, RecursionError):
                    continue
                out.extend(quad_to_cells(q) + (src,) for q in quads)
            if out:
                yield pd.DataFrame(out, columns=_READ_COLS)

    return files.mapInPandas(parse, schema=TURTLE_READ_SCHEMA)


def turtle_part_documents(quads: DataFrame,
                          prefixes: dict | None = None,
                          trig: bool = True) -> DataFrame:
    """Quad table → one standalone Turtle/TriG document per partition.

    ``trig=False`` asserts the input is default-graph-only (named-graph
    rows raise inside the task, surfacing a real modeling error instead
    of silently dropping graphs).
    """
    ser = ttl.serialize_trig if trig else ttl.serialize
    pfx = dict(prefixes) if prefixes is not None else None

    def to_doc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tuples: list[tuple] = []
        for pdf in batches:
            tuples.extend(map(cells_to_quad,
                              *(pdf[c] for c in QUAD_KEY_COLS)))
        if tuples:
            yield pd.DataFrame({"value": [ser(tuples, pfx)]})

    return quads.select(*QUAD_KEY_COLS).mapInPandas(to_doc,
                                                    schema=_TEXT_SCHEMA)


def write_turtle(quads: DataFrame, path: str,
                 prefixes: dict | None = None, trig: bool = True,
                 mode: str = "error") -> None:
    """Materialize the quad table as a directory of Turtle/TriG part
    files (one per partition, each standalone)."""
    turtle_part_documents(quads, prefixes, trig).write.mode(mode).text(path)


def parse_turtle_documents(docs: DataFrame, base: str | None = None,
                           bnode_prefix: str = "") -> DataFrame:
    """In-plan inverse of :func:`turtle_part_documents`: a DataFrame of
    Turtle/TriG document strings (column ``value``) → quad table.

    ``bnode_prefix=""`` passes sink-encoded labels through the sentinel
    codec untouched, so sink→source round-trips are label-exact (the
    same contract the N-Quads pair keeps — sources/nquads_io.py)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for i, value in enumerate(pdf["value"]):
                quads = ttl.parse(value, base=base,
                                  bnode_prefix=bnode_prefix)
                out.extend(quad_to_cells(q) + (f"doc/{i}",) for q in quads)
            if out:
                yield pd.DataFrame(out, columns=_READ_COLS)

    return docs.mapInPandas(parse, schema=TURTLE_READ_SCHEMA)
