"""spark-submit entrypoint for the documents curation funnel.

Runs the five-stage pre-training curation pipeline over a documents
parquet table (columns: doc_id, text, source, …) and writes:

  <output>/curated/        surviving documents (parquet, original columns)
  <output>/funnel.json     per-stage survivor counts (the audit trail)

Stages (each individually oracle-gated via the driver contract):
  1. C4 line heuristics        (curation.c4_quality_flags)
  2. Gopher document rules     (curation.gopher_quality_flags)
  3. corpus-window dedup       (dedup.corpus_chunk_dedup — drop docs
                                that lost any window)
  4. per-source cap            (curation.cap_per_source)
  5. mixture sampling          (curation.sample_mixture, uniform
                                keep-rate via --mixture-rate)

Usage:
  spark-submit --master local[8] --py-files kgp.zip tools/curate_docs.py \
      --input /root/testdata/sf0.01/documents.parquet --output /tmp/cur \
      [--min-words 50] [--cap 100000] [--mixture-rate 1.0] [--chunk-chars 200]

Prints ONE JSON line with the funnel counts.
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
                    help="documents parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-words", type=int, default=50)
    ap.add_argument("--min-stop-hits", type=int, default=2,
                    help="Gopher stop-word rule: distinct stop words "
                         "required (0 disables; synthetic/technical "
                         "corpora often lack natural stop words)")
    ap.add_argument("--cap", type=int, default=100_000,
                    help="max documents kept per source")
    ap.add_argument("--mixture-rate", type=float, default=1.0,
                    help="uniform deterministic keep-rate applied last")
    ap.add_argument("--chunk-chars", type=int, default=200)
    ap.add_argument("--skip-c4", action="store_true",
                    help="skip the C4 terminal-line stage (corpora "
                         "without sentence punctuation)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F
    from rdflib_jsonld_spark.operators.curation import (
        c4_quality_flags, cap_per_source, gopher_quality_flags,
        sample_mixture)
    from rdflib_jsonld_spark.operators.dedup import corpus_chunk_dedup
    from rdflib_jsonld_spark.plans.pipeline import build_session

    spark = build_session(args.master, "curate-docs")
    spark.sparkContext.setLogLevel("WARN")

    docs = spark.read.parquet(args.input)
    funnel = {"raw": docs.count()}

    cur = docs
    if not args.skip_c4:
        keep = c4_quality_flags(cur).where("keep").select("doc_id")
        cur = cur.join(keep, "doc_id")
        funnel["c4"] = cur.count()

    keep = gopher_quality_flags(cur, min_words=args.min_words,
                                min_stop_hits=args.min_stop_hits) \
        .where("keep").select("doc_id")
    cur = cur.join(keep, "doc_id")
    funnel["gopher"] = cur.count()

    dd = corpus_chunk_dedup(cur, chunk_chars=args.chunk_chars)
    cur = cur.join(dd.where(F.col("n_dropped") == 0).select("doc_id"),
                   "doc_id")
    funnel["dedup"] = cur.count()

    cur = cap_per_source(cur, cap=args.cap)
    funnel["cap"] = cur.count()

    cur = sample_mixture(cur, {}, default_rate=args.mixture_rate)
    funnel["mixture"] = cur.count()

    cur.write.mode("overwrite").parquet(f"{args.output}/curated")
    os.makedirs(args.output, exist_ok=True)
    with open(f"{args.output}/funnel.json", "w") as f:
        json.dump(funnel, f)
    print(json.dumps({"funnel": funnel,
                      "output": f"{args.output}/curated"}))
    spark.stop()


if __name__ == "__main__":
    main()
