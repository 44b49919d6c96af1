"""Distributed BPE vocabulary learning.

Byte-pair encoding merge learning (Sennrich et al. 2016 §3.2, public
methodology) re-expressed for Spark: the corpus collapses to a
(word, count) table after ONE hash aggregation — from there every
merge round touches only the distinct-word table, never the corpus:

- pair counting is an explode of adjacent symbol pairs weighted by the
  word count (map-side combinable hash agg);
- the argmax merge is one bounded driver action (a single row:
  count DESC, then lexicographic pair order for determinism);
- applying the merge is a pure ``F.aggregate`` fold over each word's
  symbol array (greedy left-to-right non-overlapping, the reference
  semantics) — JVM column algebra, no Python in the loop.

At 100 TB the word table is ~10⁶-10⁸ rows (Heaps' law) regardless of
corpus size, so the per-round cost is decoupled from the input scale —
exactly why BPE learning on distinct words (not running text) is the
scalable formulation. The DuckDB contract oracle (doc_bpe_merges)
unrolls the same recurrence round by round in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..plans.driver import local_frame
from .rounds import release


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    words = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                     lambda w: w != "")
    return (docs.select(F.explode(words).alias("w"))
            .groupBy("w").agg(F.count("*").alias("cnt")))


def _adjacent_pairs(syms: DataFrame) -> DataFrame:
    pairs = F.when(
        F.size("sym") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("sym") - 2),
            lambda i: F.struct(F.col("sym")[i].alias("a"),
                               F.col("sym")[i + 1].alias("b")))) \
        .otherwise(F.array())
    return (syms.select("cnt", F.explode(pairs).alias("p"))
            .groupBy("p.a", "p.b").agg(F.sum("cnt").alias("total")))


def _apply_merge(a: str, b: str):
    """Greedy left-to-right merge of adjacent (a, b) → a+b as one
    aggregate fold: after a merge the new last symbol is a+b, so an
    overlapping second occurrence can't re-trigger — the reference BPE
    replacement semantics."""
    head = F.slice("sym", 1, 1)
    tail = F.when(F.size("sym") >= 2,
                  F.slice(F.col("sym"), 2, F.size("sym") - 1)) \
        .otherwise(F.array().cast("array<string>"))
    return F.aggregate(
        tail, head,
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(F.lit(a + b))))
        .otherwise(F.concat(acc, F.array(x))))


def learn_bpe_batched(docs: DataFrame, n_rounds: int = 2,
                      batch_k: int = 4,
                      text_col: str = "text") -> DataFrame:
    """Batched BPE merge learning: ``n_rounds`` rounds, each accepting
    up to ``batch_k`` merges from ONE pair count, so vocab-scale
    learning (32k merges) is ~hundreds of Spark jobs instead of 32k
    sequential rounds. Returns ``(step, lhs, rhs, merged, pair_count)``.

    Standard batched-BPE acceptance: walk the round's candidates in
    (count DESC, lhs ASC, rhs ASC) order; greedily accept a pair iff it
    shares no symbol with any already-ACCEPTED pair this round. Merging
    (a,b) only changes counts of pairs touching a or b (and creates
    pairs touching a+b, which cannot be candidates yet), so accepted
    pairs' counts are exactly their sequential values; their relative
    order can differ from fully-sequential BPE only when a NEW pair
    (x,a+b)/(a+b,y) would have outranked a later accept — the
    documented, deterministic batched recurrence (the contract oracle
    replays it verbatim). ``batch_k=1`` IS sequential BPE.

    ``pair_count`` is the count observed at round start (what the
    argmax saw), identical in engine and oracle.
    """
    spark = docs.sparkSession
    cur = (_word_counts(docs, text_col)
           .select("w", "cnt", F.split("w", "").alias("sym"))
           .localCheckpoint(eager=True))
    merges = []
    step = 0
    for _ in range(n_rounds):
        cands = (_adjacent_pairs(cur)
                 .orderBy(F.desc("total"), F.asc("a"), F.asc("b"))
                 .limit(batch_k).collect())
        if not cands:
            break
        accepted: list[tuple[str, str, int]] = []
        for row in cands:
            a, b = row["a"], row["b"]
            if any(x in (a, b) for pa, pb, _ in accepted for x in (pa, pb)):
                continue
            accepted.append((a, b, int(row["total"])))
        nxt = cur
        for a, b, total in accepted:
            merges.append((step, a, b, a + b, total))
            step += 1
            nxt = nxt.withColumn("sym", _apply_merge(a, b))
        nxt = nxt.localCheckpoint(eager=True)
        release(cur)
        cur = nxt
    release(cur)
    schema = T.StructType([
        T.StructField("step", T.LongType(), False),
        T.StructField("lhs", T.StringType(), False),
        T.StructField("rhs", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ])
    return local_frame(spark, merges, schema)


def learn_bpe_merges(docs: DataFrame, n_merges: int = 8,
                     text_col: str = "text") -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus; returns
    ``(step, lhs, rhs, merged, pair_count)`` in merge order.

    Pair counts follow the reference: every adjacent symbol position
    counts (overlapping occurrences included), weighted by word
    frequency; ties break on (count DESC, lhs ASC, rhs ASC). This is
    the sequential reference semantics — one merge per driver round —
    i.e. ``learn_bpe_batched`` at ``batch_k=1``.
    """
    return learn_bpe_batched(docs, n_rounds=n_merges, batch_k=1,
                             text_col=text_col)


def segment_words(docs: DataFrame, merges: list[tuple[str, str]],
                  text_col: str = "text") -> DataFrame:
    """Apply a learned merge list to the corpus vocabulary → one row
    per distinct word with its BPE segmentation (``pieces``) and count.
    The merge loop is column algebra only (no driver actions): the
    merge list is tiny and ships in the plan."""
    out = (_word_counts(docs, text_col)
           .select("w", "cnt", F.split("w", "").alias("sym")))
    for a, b in merges:
        out = out.withColumn("sym", _apply_merge(a, b))
    return out.select("w", "cnt", F.col("sym").alias("pieces"))
