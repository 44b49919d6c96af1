"""Incremental KG construction over a transcript stream (SURVEY.md §2.I).

The reference is strictly batch (one document per parse() call —
[checkout] docs/jsonld-parser.rst:13-14); streaming is a pipeline
extension: the SAME narrow expand stage (mapInPandas over the broadcast
context) runs under Structured Streaming, so batch and streaming share one
code path — the idiomatic Spark unification.

- ``stream_expand``: readStream(parquet dir) → expand → append-mode parquet
  sink with checkpointed offsets (exactly-once per file; restart-safe —
  the streaming twin of the batch ResumableQuadWriter).
- ``stream_turn_rates``: watermarked sliding-window turn counts per role —
  the late-data-tolerant aggregation pattern (10-minute watermark bounds
  state).

``availableNow`` triggers make both testable offline: each run drains
exactly the files not yet recorded in the checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from rdflib_jsonld_spark.operators.expand import expand_transcripts
from rdflib_jsonld_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, input_path: str,
                           max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_path)


def deduplicate_turns(stream: DataFrame,
                      watermark: str = "1 hour") -> DataFrame:
    """Exactly-once turn ingest: drop re-delivered (conv_id, turn_idx)
    rows across micro-batches. The watermark on ts bounds the dedup state
    store — duplicates arriving later than the watermark are not caught
    (the standard streaming-dedup contract); the batch-side graph-set
    dedup (G4) remains the safety net."""
    # WithinWatermark variant: state for a (conv_id, turn_idx) key expires
    # once it falls behind the watermark (plain dropDuplicates without the
    # event-time column in the key never evicts — unbounded state)
    return (stream.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"]))


def deduplicate_content(stream: DataFrame, text_col: str = "text",
                        watermark: str = "1 hour") -> DataFrame:
    """Streaming EXACT-dedup by content (not key): drop rows whose
    whitespace-normalized lowercased text fingerprint was already seen
    within the watermark horizon — the streaming face of
    dedup.exact_dedup. State = one 8-byte fingerprint per distinct doc in
    the horizon (bounded by the watermark, like deduplicate_turns)."""
    from rdflib_jsonld_spark.operators.textstats import with_fingerprint
    fp = with_fingerprint(stream, text_col)
    # dropDuplicatesWithinWatermark: plain dropDuplicates only evicts
    # state when the event-time column is part of the key — keyed on the
    # fingerprint alone it would grow forever. The WithinWatermark variant
    # expires each fingerprint once it falls behind the watermark.
    return (fp.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["fingerprint"])
            .drop("fingerprint"))


def with_canonical_graph_hash(transcripts: DataFrame) -> DataFrame:
    """Annotate each turn with the RDFC-1.0 canonical sha256 of the
    dataset formed by ALL its fenced blocks (jsonld/canonicalize.py) —
    NULL when no block parses. The blocks expand exactly as in the batch
    stage (:func:`operators.expand.turn_quads`: one blank-node salt per
    block, so two blocks' anonymous nodes never merge). Narrow Arrow
    pass; works identically on batch and streaming DataFrames."""
    import pandas as pd
    from pyspark.sql import types as T

    from rdflib_jsonld_spark.jsonld.canonicalize import canonical_hash
    from rdflib_jsonld_spark.jsonld.context import Context
    from rdflib_jsonld_spark.operators.expand import turn_quads
    from rdflib_jsonld_spark.sources.registry import (CONTEXT_V1_IRI,
                                                      REGISTRY)

    schema = T.StructType(list(transcripts.schema.fields)
                          + [T.StructField("canon_hash", T.StringType(),
                                           True)])

    def run(batches):
        ctx = Context(registry=REGISTRY).load(CONTEXT_V1_IRI)
        for pdf in batches:
            hashes = []
            for conv_id, turn_idx, text in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                quads, _ = turn_quads(conv_id, turn_idx, text, ctx)
                hashes.append(canonical_hash(quads) if quads else None)
            pdf = pdf.copy()
            pdf["canon_hash"] = pd.Series(hashes, index=pdf.index,
                                          dtype="object")
            yield pdf

    return transcripts.mapInPandas(run, schema=schema)


def deduplicate_graphs(stream: DataFrame,
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming SEMANTIC graph dedup: drop turns whose KG blocks are
    ISOMORPHIC to an already-seen turn's (same canonical dataset hash —
    bnode relabelings and JSON key/array-order differences collide),
    within the watermark horizon. Turns with no parseable block pass
    through (keyed by their own identity, never each other's). State =
    one 64-hex key per distinct graph in the horizon."""
    hashed = with_canonical_graph_hash(stream)
    keyed = hashed.withColumn(
        "_dedup_key",
        F.coalesce(F.col("canon_hash"),
                   F.concat_ws("#", "conv_id", "turn_idx")))
    return (keyed.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["_dedup_key"])
            .drop("_dedup_key", "canon_hash"))


def stream_expand(spark: SparkSession, input_path: str, output_path: str,
                  checkpoint_path: str, await_termination: bool = True,
                  dedup: bool = False):
    """Incrementally expand new transcript files into the quad table."""
    stream = read_transcript_stream(spark, input_path)
    if dedup:
        stream = deduplicate_turns(stream)
    quads = expand_transcripts(stream)
    q = (quads.writeStream
         .format("parquet")
         .option("path", output_path)
         .option("checkpointLocation", checkpoint_path)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    if await_termination:
        q.awaitTermination()
    return q


def stream_turn_rates(transcripts: DataFrame,
                      window: str = "1 hour",
                      slide: str | None = None,
                      watermark: str = "10 minutes") -> DataFrame:
    """Watermarked (sliding-)window turn counts per role — late rows beyond
    the watermark are dropped, bounding state (the standard pattern)."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (transcripts
            .withWatermark("ts", watermark)
            .groupBy(win.alias("w"), "role")
            .agg(F.count(F.lit(1)).alias("n_turns"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "role", "n_turns"))


def run_turn_rates(spark: SparkSession, input_path: str, output_path: str,
                   checkpoint_path: str, await_termination: bool = True):
    stream = read_transcript_stream(spark, input_path)
    rates = stream_turn_rates(stream)
    q = (rates.writeStream
         .format("parquet")
         .option("path", output_path)
         .option("checkpointLocation", checkpoint_path)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    if await_termination:
        q.awaitTermination()
    return q
