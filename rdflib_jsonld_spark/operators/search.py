"""Full-text search over the document corpus: inverted index + BM25.

A corpus engine needs lexical retrieval next to the embedding ANN
family (operators/similarity.py) — BM25 is the public standard scoring
function (Robertson & Zaragoza 2009, "The Probabilistic Relevance
Framework: BM25 and Beyond"; the Lucene-default +1 idf smoothing is
used so scores stay positive). Everything is JVM column algebra:

- :func:`build_index` — tokenize (lowercase, non-alphanumeric splits,
  the ASCII-corpus convention of textstats), explode, one hash
  aggregate per (term, doc) for tf; document lengths ride along.
- :func:`bm25_topk` — query terms filter the postings FIRST (an
  ``isin`` that prunes before any shuffle), then one aggregate per doc
  and a TakeOrdered top-k (never a global sort).

Scale posture (10^12-doc ready): the tf aggregate keys on
(term, doc) — hot stopword terms spread across their documents, so no
single reducer sees a stopword's whole posting list; the df aggregate
keys on term alone and is AQE-skew-tolerant (count-only partial
aggregation). Query scoring touches only the |query-terms| posting
lists. The index is a plain DataFrame — persist or write it
partitioned by ``bucket(term)`` for co-located query joins.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from ..plans.driver import local_frame

TOKEN_SPLIT = "[^a-z0-9]+"


def _tokens_col(text_col):
    return F.filter(F.split(F.lower(text_col), TOKEN_SPLIT),
                    lambda t: t != "")


def tokenize_query(query: str) -> list[str]:
    """Driver-side twin of the corpus tokenizer (same split rule)."""
    return [t for t in re.split(TOKEN_SPLIT, query.lower()) if t]


def build_index(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Postings DataFrame ``(term, doc, tf, dl)`` — one row per distinct
    (term, document), with the document's token length carried on every
    posting so scoring needs no extra join."""
    # materialize the token array ONCE per row — inlining _tokens_col
    # into both explode and size would run the split+filter twice
    arr = docs.select(F.col(id_col).alias("doc"),
                      _tokens_col(F.col(text_col)).alias("_toks"))
    toks = arr.select(
        "doc",
        F.explode("_toks").alias("term"),
        F.size("_toks").alias("dl"))
    return (toks.groupBy("term", "doc")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"),
                 F.first("dl").alias("dl")))


def corpus_stats(index: DataFrame) -> tuple[int, float]:
    """(N, avgdl) from the postings — one bounded aggregate. N counts
    INDEXED documents: a token-less document produces no postings, can
    match no query, and is excluded from the collection statistics."""
    row = (index.select("doc", "dl").dropDuplicates(["doc"])
           .agg(F.count(F.lit(1)).alias("n"),
                F.avg("dl").alias("avgdl")).collect()[0])
    return int(row["n"]), float(row["avgdl"] or 0.0)


def bm25_topk(index: DataFrame, query: str, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              n_docs: int | None = None,
              avgdl: float | None = None) -> DataFrame:
    """Top-k documents for ``query`` → ``(doc, score)``.

    idf uses the Lucene-default smoothing ln(1 + (N-df+0.5)/(df+0.5)).
    Pass precomputed (n_docs, avgdl) to skip the stats aggregate when
    serving many queries against one index.
    """
    terms = tokenize_query(query)
    if not terms:
        return local_frame(index.sparkSession, [], "doc long, score double")
    if n_docs is None or avgdl is None:
        n_docs, avgdl = corpus_stats(index)
    if n_docs == 0:
        return local_frame(index.sparkSession, [], "doc long, score double")
    hits = index.where(F.col("term").isin(terms)).persist()
    df_ = hits.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1)
               / (F.col("tf") + k1 * (1 - b + b * F.col("dl")
                                      / F.lit(float(avgdl)))))
    scored = (hits.join(F.broadcast(df_), "term")
              .select("doc", (idf * tf_part).alias("s"))
              .groupBy("doc")
              .agg(F.sum("s").alias("score")))
    return scored.orderBy(F.desc("score"), F.asc("doc")).limit(k)
