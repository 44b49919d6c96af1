"""BPE vocab-scale probe (VERDICT r04 #5): learn ≥1k merges with
batch_k≈64 in bounded wall time, jobs ≈ rounds (not merges).

The sandbox documents corpus has only 31 distinct words, so BPE
saturates at ~90 merges — a DATA ceiling, not an engine one. The probe
therefore synthesizes a deterministic richer-vocabulary word table
in-engine (md5-derived pseudo-words over spark.range, Zipf-ish counts —
no external data, identical on every run) and runs the SAME
learn_bpe_batched recurrence the contract query uses.

Usage: python tools/bpe_scale_probe.py [target_merges] [batch_k]
Prints one JSON line; mirror the result into BASELINE.md.
"""

import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from rdflib_jsonld_spark.plans.pipeline import build_session


def probe_corpus(spark, n_words: int = 30000):
    """Deterministic pseudo-text: one row per distinct 'word', text =
    the word repeated cnt times (learn_bpe_batched re-splits and counts
    words, so repetition IS the frequency signal). Words are 6-16 char
    strings built from md5 syllables; counts follow 1/rank."""
    w = (spark.range(n_words)
         .select(F.col("id"),
                 F.substring(F.md5(F.col("id").cast("string")), 1,
                             (F.col("id") % 11 + 6).cast("int"))
                 .alias("word"),
                 (F.lit(1000) / (F.col("id") + 1) + 1).cast("int")
                 .alias("cnt")))
    return w.select(
        F.array_join(F.array_repeat(F.col("word"), F.col("cnt")), " ")
        .alias("text"))


def main():
    target = int(sys.argv[1]) if len(sys.argv) > 1 else 1024
    batch_k = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    spark = build_session("local[32]", "bpe-scale-probe",
                          shuffle_partitions=32, driver_memory="8g")
    from rdflib_jsonld_spark.operators.bpe import learn_bpe_batched
    docs = probe_corpus(spark)
    # rounds budget: generous upper bound; learn_bpe_batched breaks
    # early when candidates dry up, and we stop counting at target.
    # measured ~9 disjoint accepts per 64-candidate round on the hex
    # syllable vocabulary — budget ~2x that rate, bounded
    rounds_budget = max(target // 8, 32)
    t0 = time.perf_counter()
    merges = learn_bpe_batched(docs, n_rounds=rounds_budget,
                               batch_k=batch_k).collect()
    dt = time.perf_counter() - t0
    print(json.dumps({
        "metric": "bpe_scale_probe", "target_merges": target,
        "batch_k": batch_k, "rounds_budget": rounds_budget,
        "merges_learned": len(merges),
        "reached_target": len(merges) >= target,
        "wall_sec": round(dt, 1),
        "sec_per_merge": round(dt / max(len(merges), 1), 3),
        "distinct_words": 30000,
    }))


if __name__ == "__main__":
    main()
