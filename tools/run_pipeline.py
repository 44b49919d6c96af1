"""spark-submit entrypoint for the KG-construction pipeline (north_rule:
"launched via spark-submit --py-files across multi-executor clusters").

Package the library and submit:

    cd /root/repo && zip -r /tmp/kgp.zip rdflib_jsonld_spark
    spark-submit --py-files /tmp/kgp.zip tools/run_pipeline.py \
        --input synthetic:2000 --output /tmp/kg_out --slices 8

The stages (SURVEY.md §3.4: resumable expansion with per-slice lineage
markers → dedup → linking (adaptive CC) → canonical rewrite →
bucket(s)-partitioned graph table + entity counts) are
``plans.pipeline.construct_graph``; this script only parses arguments,
bridges the ``--input`` forms to transcripts, runs the optional exports
and ``--query`` over the canonical rewrite, and writes
``<output>/metrics.json``. Without ``--master`` the session takes its
master and UI settings from spark-submit. Re-running with the same
--output resumes: completed slices are skipped via their lineage markers.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="transcripts parquet path, 'synthetic:N' convs, "
                         "'documents:<sf_dir>' for the testdata bridge, or "
                         "'jsonl:<path>' for JSON-Lines JSON-LD documents")
    ap.add_argument("--output", required=True)
    ap.add_argument("--slices", type=int, default=8)
    ap.add_argument("--buckets", type=int, default=None,
                    help="s_bucket count of the graph table (default: the "
                         "session's default parallelism)")
    ap.add_argument("--contexts", default=None,
                    help="directory of pre-fetched remote contexts "
                         "(manifest.json maps IRI -> file) merged into the "
                         "built-in registry")
    ap.add_argument("--export-nquads", action="store_true",
                    help="also materialize the canonical graph as N-Quads "
                         "text under <output>/nquads (JVM-side serializer)")
    ap.add_argument("--export-trig", action="store_true",
                    help="also materialize the canonical graph as TriG "
                         "text under <output>/trig (per-partition "
                         "standalone documents)")
    ap.add_argument("--query", default=None,
                    help="SPARQL query string (or @file) evaluated against "
                         "the canonical graph; results land under "
                         "<output>/query_result as parquet and the first "
                         "20 rows print to stdout")
    ap.add_argument("--master", default=None,
                    help="override master (default: from spark-submit)")
    args = ap.parse_args()

    from rdflib_jsonld_spark.plans.pipeline import (
        build_session, construct_graph)
    from rdflib_jsonld_spark.sources import transcripts as tr

    spark = build_session(args.master, "kg-pipeline")
    spark.sparkContext.setLogLevel("WARN")

    if args.input.startswith("synthetic:"):
        n = int(args.input.split(":", 1)[1])
        transcripts = tr.transcripts_df(spark, n_convs=n, seed=42)
    elif args.input.startswith("documents:"):
        from rdflib_jsonld_spark.sources.doc_transcripts import (
            documents_as_transcripts)
        sf_dir = args.input.split(":", 1)[1]
        transcripts = documents_as_transcripts(
            spark.read.parquet(f"{sf_dir}/documents.parquet"))
    elif args.input.startswith("jsonl:"):
        # JSON-Lines JSON-LD docs → one-turn transcripts (fence-wrapped so
        # the standard expansion stage parses them); layout-independent
        # deterministic lineage keys via content hash.
        from pyspark.sql import functions as F
        path = args.input.split(":", 1)[1]
        # conv_id carries a content-hash bucket (so resumable slicing,
        # which hashes conv_id, spreads one big file across all slices,
        # stably) PLUS the full 64-bit content hash in hex: the bnode
        # lineage prefix is (conv_id, turn_idx), and a truncated 31-bit
        # key collides at ~n²/2³² per file — hundreds of silently merged
        # documents at 10⁶ lines. With the full hash in conv_id the
        # collision rate is ~2⁻⁶⁴, and equal-content lines (the only
        # collision left) expand to identical quads anyway.
        h = F.xxhash64("value")
        transcripts = (spark.read.text(path)
                       .where(F.length(F.trim("value")) > 0)
                       .select(
                           F.concat(F.input_file_name(), F.lit("#"),
                                    F.pmod(h, F.lit(256)).cast("string"),
                                    F.lit("/"), F.hex(h)).alias("conv_id"),
                           F.pmod(h, F.lit(1 << 31))
                           .cast("int").alias("turn_idx"),
                           F.concat(F.lit("```ld\n"), F.col("value"),
                                    F.lit("\n```")).alias("text")))
    else:
        transcripts = tr.read_transcripts(spark, args.input)

    extra_registry = None
    if args.contexts:
        from rdflib_jsonld_spark.sources.registry import load_registry_dir
        extra_registry = load_registry_dir(args.contexts)

    stages, metrics = construct_graph(
        spark, transcripts, args.output, n_slices=args.slices,
        n_buckets=args.buckets, registry=extra_registry)
    canon = stages["canonical_quads"]
    if args.export_nquads:
        from rdflib_jsonld_spark.sources.nquads_io import write_nquads
        write_nquads(canon, os.path.join(args.output, "nquads"),
                     mode="overwrite")
    if args.export_trig:
        from rdflib_jsonld_spark.sources.turtle_io import write_turtle
        write_turtle(canon, os.path.join(args.output, "trig"),
                     trig=True, mode="overwrite")
    if args.query:
        from rdflib_jsonld_spark.operators.sparql import sparql
        qtext = args.query
        if qtext.startswith("@"):
            with open(qtext[1:]) as qf:
                qtext = qf.read()
        res = sparql(canon, qtext)
        res.write.mode("overwrite").parquet(
            os.path.join(args.output, "query_result"))
        for row in res.limit(20).collect():
            print(json.dumps(row.asDict(), default=str))

    with open(os.path.join(args.output, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
