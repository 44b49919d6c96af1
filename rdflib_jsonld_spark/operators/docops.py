"""Document-level JSON-LD operations as Spark stages: expand / flatten /
compact over fenced blocks in transcript turns.

These are the Spark faces of the three W3C API operations the reference's
conformance suite exercised beyond toRdf/fromRdf ([v0.5.0]
test/test_testsuite.py ran `expand`, `compact`, `flatten` manifests —
SURVEY.md §5.1). Same execution shape as the to-rdf stage
(operators/expand.py): one NARROW Arrow-batched ``mapInPandas`` pass, the
resolved @context built once per executor from the broadcast registry —
zero shuffles, zero per-row Python calls across the JVM boundary.

The compact stage doubles as a distributed self-check: for every block it
verifies the full round trip ``to_rdf(compact(expand(d))) ≅ to_rdf(d)``
(bnode-isomorphism-aware), so a single aggregate over its output is an
end-to-end semantic gate at any scale.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from rdflib_jsonld_spark.jsonld.context import Context
from rdflib_jsonld_spark.jsonld.compact import compact
from rdflib_jsonld_spark.jsonld.compare import isomorphic
from rdflib_jsonld_spark.jsonld.expansion import expand
from rdflib_jsonld_spark.jsonld.flatten import flatten
from rdflib_jsonld_spark.jsonld.tordf import to_rdf
from rdflib_jsonld_spark.operators.expand import extract_blocks, parse_block
from rdflib_jsonld_spark.sources.registry import CONTEXT_V1_IRI, REGISTRY

DOC_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("block_idx", T.IntegerType(), False),
    T.StructField("n_nodes", T.IntegerType(), False),
    T.StructField("doc_json", T.StringType(), False),
])

ROUNDTRIP_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("block_idx", T.IntegerType(), False),
    T.StructField("n_quads", T.IntegerType(), False),
    T.StructField("ok", T.BooleanType(), False),
])


def _doc_stage(transcripts: DataFrame, transform) -> DataFrame:
    pruned = transcripts.select("conv_id", "turn_idx", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = Context(registry=REGISTRY).load(CONTEXT_V1_IRI)
        for pdf in batches:
            out: list[tuple] = []
            for conv_id, turn_idx, text in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                for k, block in enumerate(extract_blocks(text)):
                    try:
                        nodes = transform(*parse_block(block, ctx))
                    except Exception:
                        continue
                    out.append((conv_id, int(turn_idx), k, len(nodes),
                                json.dumps(nodes, sort_keys=True)))
            if out:
                yield pd.DataFrame(out, columns=[f.name for f in
                                                 DOC_SCHEMA.fields])

    return pruned.mapInPandas(run, schema=DOC_SCHEMA)


def expand_documents_stage(transcripts: DataFrame) -> DataFrame:
    """Each fenced block → its expanded document form (JSON string) +
    top-level node count. [spec] JLD-API §5.1."""
    def tf(doc, ctx):
        return expand(doc, ctx=ctx, registry=REGISTRY)
    return _doc_stage(transcripts, tf)


def flatten_documents_stage(transcripts: DataFrame) -> DataFrame:
    """Each fenced block → flattened expanded form (labeled, merged,
    sorted nodes). [spec] JLD-API §5.2-5.3."""
    def tf(doc, ctx):
        return flatten(doc, ctx=ctx, registry=REGISTRY)
    return _doc_stage(transcripts, tf)


def frame_documents_stage(transcripts: DataFrame, frame_doc: dict,
                          **flags) -> DataFrame:
    """Each fenced block → its FRAMED node array (JSON string) +
    matched-node count. [spec] JSON-LD 1.1 Framing via the pure core
    (jsonld/frame.py); the frame document and flags ship in the UDF
    closure, the registry resolves the frame's @context per executor.
    Same narrow zero-shuffle shape as the other document stages."""
    from rdflib_jsonld_spark.jsonld.frame import frame as _frame
    cache: dict = {}   # per-executor: resolve the frame context ONCE

    def tf(doc, ctx):
        fctx = cache.get("fctx")
        if fctx is None:
            fctx = Context(registry=REGISTRY)
            if "@context" in frame_doc:
                fctx = fctx.load(frame_doc["@context"])
            cache["fctx"] = fctx
        return _frame(doc, frame_doc, registry=REGISTRY, ctx=ctx,
                      frame_ctx=fctx, compact_output=False, **flags)
    return _doc_stage(transcripts, tf)


CANON_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("block_idx", T.IntegerType(), False),
    T.StructField("n_quads", T.IntegerType(), False),
    T.StructField("canon_hash", T.StringType(), False),
])


def canonical_hash_stage(transcripts: DataFrame,
                         prepare=None) -> DataFrame:
    """Each fenced block → its RDFC-1.0 canonical dataset hash
    (jsonld/canonicalize.py): equal hash ⇔ isomorphic graphs, so
    GRAPH-LEVEL dedup becomes ``groupBy(canon_hash)`` — no pairwise
    isomorphism, joinable at any scale. ``prepare`` (optional callable
    shipped in the UDF closure, the multimodal ``decoders=`` pattern)
    rewrites the parsed document before to-rdf — e.g. strip
    instance-unique ids so content-identical graphs collide."""
    from rdflib_jsonld_spark.jsonld.canonicalize import canonical_hash
    pruned = transcripts.select("conv_id", "turn_idx", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = Context(registry=REGISTRY).load(CONTEXT_V1_IRI)
        for pdf in batches:
            out: list[tuple] = []
            for conv_id, turn_idx, text in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                for k, block in enumerate(extract_blocks(text)):
                    try:
                        doc, fast_ctx = parse_block(block, ctx)
                        if prepare is not None:
                            doc = prepare(doc)
                        quads = to_rdf(doc, ctx=fast_ctx,
                                       registry=REGISTRY)
                        h = canonical_hash(quads)
                    except Exception:
                        continue
                    out.append((conv_id, int(turn_idx), k, len(quads), h))
            if out:
                yield pd.DataFrame(out, columns=[f.name for f in
                                                 CANON_SCHEMA.fields])

    return pruned.mapInPandas(run, schema=CANON_SCHEMA)


def compact_roundtrip_stage(transcripts: DataFrame) -> DataFrame:
    """Each fenced block → whether expand→compact→to-rdf reproduces the
    directly-emitted graph (bnode-iso). A distributed conformance gate:
    ``agg(sum(ok))`` == block count certifies the whole partition set."""
    pruned = transcripts.select("conv_id", "turn_idx", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = Context(registry=REGISTRY).load(CONTEXT_V1_IRI)
        for pdf in batches:
            out: list[tuple] = []
            for conv_id, turn_idx, text in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                for k, block in enumerate(extract_blocks(text)):
                    try:
                        doc, fast_ctx = parse_block(block, ctx)
                        direct = to_rdf(doc, ctx=fast_ctx, registry=REGISTRY)
                        expanded = expand(doc, ctx=fast_ctx,
                                          registry=REGISTRY)
                        compacted = compact(expanded, expanded=True,
                                            ctx=fast_ctx)
                        back = to_rdf(compacted, ctx=fast_ctx,
                                      registry=REGISTRY)
                        ok = isomorphic(direct, back)
                    except Exception:
                        ok, direct = False, []
                    out.append((conv_id, int(turn_idx), k,
                                len(direct), bool(ok)))
            if out:
                yield pd.DataFrame(out, columns=[f.name for f in
                                                 ROUNDTRIP_SCHEMA.fields])

    return pruned.mapInPandas(run, schema=ROUNDTRIP_SCHEMA)


def expanded_node_counts(transcripts: DataFrame) -> DataFrame:
    """Per-conversation expanded block/node totals — SQL-predictable on the
    documents bridge (n_nodes = 1 + doc_id % (1 + (doc_id%500)%3))."""
    return (expand_documents_stage(transcripts)
            .groupBy("conv_id")
            .agg(F.count("*").cast("long").alias("n_blocks"),
                 F.sum("n_nodes").cast("long").alias("n_nodes"))
            .orderBy("conv_id"))
