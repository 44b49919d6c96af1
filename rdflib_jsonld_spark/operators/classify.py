"""Model-based document scoring: hashed linear text classifier.

The model-quality filter of a pre-training pipeline (fastText-style
hashed bag-of-words linear classifier — Joulin et al. 2016, public
methodology; the GPT-3/LLaMA quality filters are this shape): tokens
hash into a fixed bucket space, each bucket carries a learned weight,
the document score is sigmoid(bias + mean bucket weight). Training is
out of scope (models arrive as weight vectors); SCORING is the 100-TB
concern, and here it is a PURE NARROW PROJECTION:

- tokens come from the same split rule as the BM25 tokenizer
  (operators/search.py TOKEN_SPLIT);
- the bucket is a seeded md5 of the token — engine-replicable (the
  DuckDB oracle reproduces the identical bucketing, the same
  construction as the curation hash-split family);
- the weight lookup is a ``map`` LITERAL inside ``transform`` — the
  whole model ships in the plan (buckets ≍ 10³-10⁶ floats ≪ broadcast
  threshold), so scoring is zero-shuffle, zero-join, zero-Python:
  whole-stage codegen end to end, partitioning-independent, identical
  on every rerun.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans.driver import local_frame
from .search import TOKEN_SPLIT

#: Weight tables above this ship as a broadcast-joined (bucket, weight)
#: DataFrame instead of a plan-literal `create_map` — a fastText-style
#: filter uses 1-2M buckets, and a literal that size bloats the plan
#: and breaks codegen (VERDICT r04 #3; same bound as operators/dsir.py,
#: which imports this constant).
MAX_LITERAL_BUCKETS = 1 << 16


def _bucket(tok_col, n_buckets: int, seed: str):
    return (F.conv(F.substring(
        F.md5(F.concat_ws("\x1f", tok_col, F.lit(seed))), 1, 8), 16, 10)
        .cast("bigint") % n_buckets)


def _weights_df(spark, weights, n_buckets: int) -> DataFrame:
    """(b bigint, w double) weight table for the beyond-literal-cap
    broadcast path. ``weights`` is a dict {bucket: weight} or a dense
    list; zero weights are dropped — absent buckets read as 0."""
    items = (enumerate(weights) if isinstance(weights, list)
             else weights.items())
    rows = [(int(b), float(v)) for b, v in items if v != 0.0]
    return local_frame(spark, rows or [(0, 0.0)], "_b long, _w double")


def linear_text_classifier(docs: DataFrame, weights: dict[int, float],
                           bias: float = 0.0, n_buckets: int = 1024,
                           seed: str = "clf-v1", text_col: str = "text",
                           score_col: str = "clf_score",
                           threshold: float = 0.5) -> DataFrame:
    """Append ``clf_score`` (sigmoid of bias + mean hashed-bucket
    weight; empty documents score sigmoid(bias)) and ``clf_label``
    (score ≥ threshold). Buckets absent from ``weights`` weigh 0.

    Up to ``MAX_LITERAL_BUCKETS`` nonzero weights the model ships in
    the plan as a ``map`` literal — zero-shuffle, zero-join, whole-stage
    codegen. Past the cap (fastText-scale models, 1-2M buckets) the
    forward pass switches to a broadcast join of a (bucket, weight)
    table against the exploded token buckets — one narrow broadcast,
    no corpus shuffle (the tokens aggregate back on a synthetic row id
    before touching the wide document row)."""
    if not 0 < n_buckets:
        raise ValueError("n_buckets must be positive")
    for b in weights:
        if not 0 <= b < n_buckets:
            raise ValueError(f"bucket {b} outside [0, {n_buckets})")
    # materialize the token array once — inlining it into transform AND
    # both size() calls would re-run the split+filter three times
    toked = docs.withColumn(
        "_clf_toks",
        F.filter(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT),
                 lambda t: t != ""))
    toks = F.col("_clf_toks")
    nonzero = sum(1 for v in weights.values() if v != 0.0)
    if nonzero <= MAX_LITERAL_BUCKETS:
        wmap = F.create_map(*[x for b, w in sorted(weights.items())
                              for x in (F.lit(int(b)), F.lit(float(w)))])
        bucket_w = F.transform(
            toks, lambda t: F.coalesce(wmap[_bucket(t, n_buckets, seed)],
                                       F.lit(0.0)))
        sum_w = F.aggregate(bucket_w, F.lit(0.0), lambda a, x: a + x)
        scored = toked.withColumn("_clf_sum", sum_w)
    else:
        wdf = _weights_df(docs.sparkSession, weights, n_buckets)
        rid = toked.withColumn("_clf_rid", F.monotonically_increasing_id())
        sums = (rid.select("_clf_rid", F.explode(toks).alias("_tok"))
                .select("_clf_rid",
                        _bucket(F.col("_tok"), n_buckets, seed).alias("_b"))
                .join(F.broadcast(wdf), "_b", "left")
                .groupBy("_clf_rid")
                .agg(F.sum(F.coalesce("_w", F.lit(0.0))).alias("_clf_sum")))
        scored = (rid.join(sums, "_clf_rid", "left")
                  .withColumn("_clf_sum",
                              F.coalesce("_clf_sum", F.lit(0.0)))
                  .drop("_clf_rid"))
    mean_w = F.when(F.size(toks) > 0,
                    F.col("_clf_sum") / F.size(toks)).otherwise(F.lit(0.0))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(float(bias))
                                               + mean_w)))
    out = scored.withColumn(score_col, score).drop("_clf_toks", "_clf_sum")
    return out.withColumn("clf_label",
                          F.col(score_col) >= F.lit(float(threshold)))


def train_linear_classifier(docs: DataFrame, label_col: str,
                            n_buckets: int = 64, seed: str = "clf-v1",
                            lr: float = 1.0, n_rounds: int = 5,
                            text_col: str = "text",
                            id_col: str = "doc_id"
                            ) -> tuple[list[float], float]:
    """Seeded, deterministic FULL-BATCH gradient descent for the hashed
    logistic model ``linear_text_classifier`` scores with — the
    fastText-style quality-filter training a curation pipeline actually
    runs (Joulin et al. 2016; the GPT-3/LLaMA quality filters are this
    shape). Returns ``(weights, bias)`` with ``len(weights) ==
    n_buckets``; feeding them back to ``linear_text_classifier`` with
    the same ``n_buckets``/``seed`` reproduces the training-time scores.

    Model: p_d = sigmoid(bias + Σ_b w[b]·c_db / n_d) over the same
    tokenizer + md5 bucketing as scoring. Full-batch logistic gradient:
    w[b] -= lr · Σ_d (p_d - y_d)·c_db/n_d / N and
    bias -= lr · Σ_d (p_d - y_d) / N.

    Scale posture: the per-doc bucket-count table is built ONCE
    (tokenize → explode → hash agg), unioned with one synthetic
    NULL-bucket bias row per document (_c = 1, _n = 1 — the bias
    feature), and persisted — token text never moves again. Each round
    is ONE action: forward pass (groupBy(doc); the weight vector ships
    as a map literal up to ``MAX_LITERAL_BUCKETS``, as a broadcast-
    joined (bucket, weight) table past it — VERDICT r04 #3), residual
    join back, groupBy(bucket) — the NULL-bucket group IS the bias
    gradient Σ(p_d − y_d), so bias no longer costs a second action that
    recomputed the residuals. All map-side-combining hash aggs; driver
    state is exactly the weight vector (n_buckets floats + bias), the
    kmeans-centroid pattern; collects are ≤ n_buckets + 1 rows/round
    (past the literal cap that collect is model-sized — the same
    n_buckets floats the driver already holds). Empty documents
    contribute sigmoid(bias) − y to the bias gradient only (their only
    feat row is the bias row)."""
    if n_rounds < 0 or n_buckets <= 0:
        raise ValueError("n_rounds must be >= 0, n_buckets positive")
    toked = docs.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("double").alias("_y"),
        F.filter(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT),
                 lambda t: t != "").alias("_toks"))
    bucket_rows = (toked
                   .select("_id", "_y",
                           F.size("_toks").cast("double").alias("_n"),
                           F.explode("_toks").alias("_tok"))
                   .withColumn("_b", _bucket(F.col("_tok"), n_buckets,
                                             seed))
                   .groupBy("_id", "_y", "_n", "_b")
                   .agg(F.count("_tok").cast("double").alias("_c"))
                   .select("_id", "_y", "_n", "_b", "_c"))
    bias_rows = toked.select(
        "_id", "_y", F.lit(1.0).alias("_n"),
        F.lit(None).cast("bigint").alias("_b"), F.lit(1.0).alias("_c"))
    feat = bucket_rows.unionByName(bias_rows).persist()
    n_docs = docs.count()
    if n_docs == 0:
        feat.unpersist()
        return [0.0] * n_buckets, 0.0
    w = [0.0] * n_buckets
    bias = 0.0
    inv_n = F.when(F.col("_n") > 0, F.lit(1.0) / F.col("_n")) \
        .otherwise(F.lit(0.0))
    literal_ok = n_buckets <= MAX_LITERAL_BUCKETS
    for _ in range(n_rounds):
        if literal_ok:
            wmap = F.create_map(*[x for b in range(n_buckets)
                                  for x in (F.lit(b), F.lit(w[b]))])
            feat_w = feat
            wcol = F.coalesce(wmap[F.col("_b")], F.lit(0.0))
        else:
            wdf = _weights_df(feat.sparkSession, w, n_buckets)
            # NULL _b (bias rows) never equi-match — weight reads as 0
            feat_w = feat.join(F.broadcast(wdf), "_b", "left")
            wcol = F.coalesce(F.col("_w"), F.lit(0.0))
        contrib = wcol * F.col("_c") * inv_n
        resid = (feat_w.groupBy("_id")
                 .agg(F.first("_y").alias("_y"),
                      F.sum(contrib).alias("_dot"))
                 .select("_id",
                         (F.lit(1.0)
                          / (F.lit(1.0)
                             + F.exp(-(F.lit(bias) + F.col("_dot"))))
                          - F.col("_y")).alias("_r")))
        grad = (feat.join(resid, "_id")
                .groupBy("_b")
                .agg(F.sum(F.col("_r") * F.col("_c") * inv_n).alias("_g"))
                .collect())  # bounded: <= n_buckets + 1 rows
        for row in grad:
            if row["_b"] is None:
                bias -= lr * row["_g"] / n_docs
            else:
                w[row["_b"]] -= lr * row["_g"] / n_docs
    feat.unpersist()
    return w, bias


# ---------------------------------------------------------------------------
# n-gram LM quality scoring (CCNet-style)
# ---------------------------------------------------------------------------

def bigram_lm_scores(docs: DataFrame, train_docs: DataFrame | None = None,
                     id_col: str = "doc_id", text_col: str = "text",
                     alpha: float = 1.0) -> DataFrame:
    """CCNet-style n-gram language-model quality scoring (Wenzek et al.
    2020 §3.3, public methodology — there a KenLM 5-gram; here the
    distributed bigram analogue): train Laplace-smoothed bigram
    probabilities on ``train_docs`` (default: the corpus itself) and
    score every document by its average log₂ bigram probability —
    higher (less negative) = more typical of the training corpus, the
    signal CCNet buckets into head/middle/tail quality tiers.

    Returns ``(id, n_bigrams, avg_logp)`` — one row per document with
    at least one bigram; ``avg_logp`` is rounded to 6 decimals (the
    BM25-oracle float convention).

    Scale posture: token/bigram count tables are additive hash
    aggregations (map-side partial combine); scoring is two equi-joins
    of the document bigram stream against them — head-word skew is
    AQE's skew-join case; nothing collects but the vocabulary SIZE
    (one bounded count). P(w₂|w₁) = (c(w₁w₂) + α) / (c(w₁) + α·V)
    with V = distinct training unigrams.
    """
    train = train_docs if train_docs is not None else docs

    def _toks(df):
        return df.select(
            F.col(id_col),
            F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                     lambda w: w != "").alias("ws"))

    def _bigrams(tok_df):
        # NB: F.sequence(0, -1) DESCENDS in Spark — a <2-token doc must
        # yield an empty array, not a bogus [0, -1] index pair
        pairs = F.when(
            F.size("ws") >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - 2),
                lambda i: F.struct(F.col("ws")[i].alias("w1"),
                                   F.col("ws")[i + 1].alias("w2")))) \
            .otherwise(F.array())
        return tok_df.select(id_col, F.explode(pairs).alias("bg")) \
            .select(id_col, "bg.w1", "bg.w2")

    train_toks = _toks(train)
    uni = (train_toks.select(F.explode("ws").alias("w"))
           .groupBy("w").agg(F.count("*").alias("c1")))
    big = (_bigrams(train_toks).groupBy("w1", "w2")
           .agg(F.count("*").alias("c12")))
    v = uni.count()  # bounded: the vocabulary size
    stream = _bigrams(_toks(docs))
    lp = (F.log((F.coalesce("c12", F.lit(0)) + F.lit(alpha))
                / (F.coalesce("c1", F.lit(0)) + F.lit(alpha * v)))
          / F.log(F.lit(2.0)))
    return (stream.join(big, ["w1", "w2"], "left")
            .join(uni, stream.w1 == uni.w, "left")
            .select(id_col, lp.alias("lp"))
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_bigrams"),
                 F.round(F.avg("lp"), 6).alias("avg_logp")))
